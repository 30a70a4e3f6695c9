"""Round-8 additions: register-HLL re-basings of the former rows-only
sketch queries, and the shared-token-scan shingle_n_curve refactor."""

from __future__ import annotations

from pyspark.sql import functions as F

from training_etl_demo_2_spark.operators import dedup, sketches, validation


# ---------------------------------------------------------------------------
# user_stats_register_hll (re-based sketch_user_stats)
# ---------------------------------------------------------------------------


def test_user_stats_register_hll_accuracy(tables):
    out = {
        r["event_type"]: r
        for r in sketches.user_stats_register_hll(tables).collect()
    }
    exact = {
        r["event_type"]: (r["exact"], r["n"])
        for r in tables["events"]
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert set(out) == set(exact)
    for et, (ex, n) in exact.items():
        r = out[et]
        assert r["n_events"] == n
        # m=1024 registers -> ~3.2% RSE; allow ~4 sigma on small groups
        assert abs(r["approx_users_r6"] - ex) <= max(3, 0.13 * ex), (
            et, r["approx_users_r6"], ex,
        )


def test_user_stats_register_hll_matches_hll_user_estimate(tables):
    """Same registers, same fold: the re-based stats query's estimate
    must equal hll_user_estimate's est_r6 exactly (both rounded-6)."""
    stats = {
        r["event_type"]: r["approx_users_r6"]
        for r in sketches.user_stats_register_hll(tables).collect()
    }
    ref = {
        r["event_type"]: r["est_r6"]
        for r in sketches.hll_user_estimate(tables).collect()
    }
    assert stats == ref


# ---------------------------------------------------------------------------
# hll_column_profile (re-based data_profile_lineitem_approx)
# ---------------------------------------------------------------------------


def test_hll_column_profile_tracks_exact(tables):
    li = tables["lineitem"]
    exact = {r.col_name: r for r in validation.profile_columns(li).collect()}
    approx = {r.col_name: r for r in sketches.hll_column_profile(li).collect()}
    assert set(exact) == set(approx)
    for c, e in exact.items():
        a = approx[c]
        # base stats are shared logic with the exact tier minus Expand
        assert (a.n_rows, a.n_nulls) == (e.n_rows, e.n_nulls), c
        # numeric kinds expose min/max identically; strings NULL
        assert (a.min_num, a.max_num) == (e.min_num, e.max_num), c
        # register HLL at m=1024 -> ~3.2% RSE. The fixture's doubles are
        # 2-decimal money values and shipdate is date-valued, so the
        # canonical resolutions (cents/days) are lossless here and the
        # estimate targets the true distinct count.
        assert abs(a.n_distinct_est_r6 - e.n_distinct) <= max(
            2, 0.13 * e.n_distinct
        ), (c, a.n_distinct_est_r6, e.n_distinct)


def test_hll_column_profile_null_column(spark):
    df = spark.range(50).select(
        F.col("id"),
        F.when(F.col("id") < 10, F.col("id")).alias("sparse"),
        F.lit(None).cast("string").alias("allnull"),
    )
    prof = {r.col_name: r for r in sketches.hll_column_profile(df).collect()}
    assert prof["sparse"].n_nulls == 40
    assert abs(prof["sparse"].n_distinct_est_r6 - 10) <= 1
    # an all-null column has no registers: estimate is NULL, not 0
    assert prof["allnull"].n_nulls == 50
    assert prof["allnull"].n_distinct_est_r6 is None


# ---------------------------------------------------------------------------
# shingle_n_curve: shared token scan must not change values
# ---------------------------------------------------------------------------


def test_shingle_n_curve_matches_per_arm_recompute(tables):
    """The round-8 shared-token refactor is a pure plan change: each
    arm's row must equal what independent shingle_hashes +
    minhash_lsh_pairs runs produce."""
    docs = tables["documents"]
    out = {r["n"]: r for r in dedup.shingle_n_curve(docs).collect()}
    for n in (2, 3):
        sh = dedup.shingle_hashes(docs, "text", n)
        agg = sh.agg(
            F.count_distinct("doc_id").alias("d"),
            F.count_distinct("h").alias("s"),
        ).collect()[0]
        jac = dedup.minhash_lsh_pairs(docs, "text", n=n, threshold=0.5)
        pairs50 = jac.filter(F.col("jaccard") >= 0.5).count()
        r = out[n]
        assert (r["n_docs_with_shingles"], r["distinct_shingles"]) == (
            agg["d"], agg["s"],
        )
        assert r["pairs_j50"] == pairs50


# ---------------------------------------------------------------------------
# round-8 batch A: session curve, W1 drift, band prune, BH-FDR, FS, stream
# ---------------------------------------------------------------------------


def test_session_gap_curve_matches_sessionize(tables):
    """The one-pass lag/lead folds must equal real sessionization: per
    gap, n_sessions == sessionize_events' distinct (user, session)
    count and singleton count matches the per-session size histogram."""
    from training_etl_demo_2_spark.operators import behavior, relational

    out = {r["gap_minutes"]: r for r in behavior.session_gap_curve(tables).collect()}
    for g in (5, 30):
        sess = relational.sessionize_events(tables, gap_minutes=g)
        rows = sess.collect()
        assert out[g]["n_sessions"] == len(rows)
        assert out[g]["n_singleton_sessions"] == sum(
            1 for r in rows if r["n_events"] == 1
        )
    # monotonicity: larger gap merges sessions
    gaps = sorted(out)
    for a, b in zip(gaps, gaps[1:]):
        assert out[a]["n_sessions"] >= out[b]["n_sessions"]
        assert out[a]["intra_session_idle_s"] <= out[b]["intra_session_idle_s"]


def test_wasserstein_identical_distribution_is_zero(spark):
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators import validation

    # two sources with IDENTICAL length distributions -> W1 == 0 for
    # both (paired construction: docs 2k and 2k+1 share a length, one
    # per source — counts per length value are exactly equal)
    base = spark.range(100).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") / 2).cast("long") % 7 * 10 + 20).alias("n_chars"),
        F.when(F.col("id") % 2 == 0, "sa").otherwise("sb").alias("source"),
    )
    out = {
        r["source"]: r["w1_chars_r6"]
        for r in validation.wasserstein_length_by_source(
            {"documents": base}
        ).collect()
    }
    assert out == {"sa": 0.0, "sb": 0.0}


def test_wasserstein_point_masses_exact(spark):
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators import validation

    # sa: all length 10 (n=4), sb: all length 30 (n=12); corpus mix has
    # F(10)=0.25. W1(sa vs corpus) = |1 - 0.25| * 20 = 15; W1(sb) =
    # |0 - 0.25| * 20 = 5.
    rows = [(i, 10, "sa") for i in range(4)] + [
        (100 + i, 30, "sb") for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, source string")
    out = {
        r["source"]: r["w1_chars_r6"]
        for r in validation.wasserstein_length_by_source(
            {"documents": df}
        ).collect()
    }
    assert out["sa"] == 15.0 and out["sb"] == 5.0


def test_perplexity_band_prune_counts(tables):
    from training_etl_demo_2_spark.operators import curation

    docs = tables["documents"]
    out = curation.perplexity_band_prune(docs).collect()
    n = docs.count()
    lo = n // 4
    assert sum(r["n_docs"] for r in out) == n
    assert sum(r["n_kept"] for r in out) == n - 2 * lo
    for r in out:
        assert 0 <= r["n_kept"] <= r["n_docs"]
        assert r["tokens_kept"] <= r["tokens_total"]


def test_fdr_bh_rejects_only_below_crossing(tables):
    """BH invariants: ranks are a permutation, thresholds increase
    linearly, and the rejected set is exactly the prefix up to the
    last rank whose p <= alpha*rank/m (step-up includes any
    intermediate rank above its own threshold)."""
    from training_etl_demo_2_spark.operators import validation

    out = sorted(
        validation.fdr_bh_source_tests(tables).collect(),
        key=lambda r: r["bh_rank"],
    )
    m = len(out)
    assert [r["bh_rank"] for r in out] == list(range(1, m + 1))
    ks = [r["bh_rank"] for r in out if r["p_value"] <= 0.05 * r["bh_rank"] / m + 1e-12]
    k = max(ks) if ks else 0
    for r in out:
        assert r["rejected"] == (1 if r["bh_rank"] <= k else 0)


def test_fdr_engineered_shifted_source_rejected(spark):
    """A source whose lengths are wildly shifted must be rejected even
    after BH correction; identically-distributed sources must not be."""
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators import validation

    rows = []
    did = 0
    for s in ("a", "b", "c"):
        for i in range(60):
            rows.append((did, 100 + (i % 5), s))
            did += 1
    for i in range(60):  # source 'z': 10x longer
        rows.append((did, 1000 + (i % 5), "z"))
        did += 1
    df = spark.createDataFrame(rows, "doc_id long, n_chars long, source string")
    out = {r["source"]: r for r in validation.fdr_bh_source_tests(
        {"documents": df}
    ).collect()}
    assert out["z"]["rejected"] == 1
    # every source's 'rest' includes z, so a/b/c also shift and can tie
    # z at the minimal permutation p-value (ranks then break by name) —
    # assert z carries the minimal p, not a specific rank
    assert out["z"]["p_value"] == min(r["p_value"] for r in out.values())


def test_fellegi_sunter_pattern_table(tables):
    from training_etl_demo_2_spark.operators import dedup

    out = dedup.fellegi_sunter_scores(tables).collect()
    assert out, "blocking produced no candidate pairs on the fixture"
    # full-agreement pattern (if present) must carry the max weight;
    # weights strictly increase with each extra agreeing field given
    # m > u for every field (checked per adjacent pattern pair)
    by_bits = {
        (r["agree_type"], r["agree_tok1"], r["agree_tok2"], r["agree_price"]): r
        for r in out
    }
    ws = [r["fs_weight_r6"] for r in out]
    full = by_bits.get((1, 1, 1, 1))
    if full is not None:
        assert full["fs_weight_r6"] == max(ws)
    for bits, r in by_bits.items():
        for i in range(4):
            if bits[i] == 1:
                lower = list(bits)
                lower[i] = 0
                lr = by_bits.get(tuple(lower))
                if lr is not None:
                    assert r["fs_weight_r6"] > lr["fs_weight_r6"]


def test_stream_near_dup_equals_batch_incremental(spark, sf_dir):
    """The streaming probe replayed to completion must equal the batch
    incremental_near_dup answer row for row (the stream-static
    correctness statement)."""
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators import dedup
    from training_etl_demo_2_spark.streaming import fixture_queries

    from training_etl_demo_2_spark.io import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    batch = sorted(
        tuple(r)
        for r in dedup.incremental_near_dup(
            docs.filter(F.col("doc_id") % 2 == 1),
            docs.filter(F.col("doc_id") % 2 == 0),
        ).collect()
    )
    stream = sorted(
        tuple(r)
        for r in fixture_queries.stream_near_dup(spark, sf_dir).collect()
    )
    assert stream == batch


def test_stream_word_count_equals_batch(spark, sf_dir, tables):
    from training_etl_demo_2_spark.operators import wordcount
    from training_etl_demo_2_spark.streaming import fixture_queries

    batch = sorted(
        (r["word"], r["cnt"])
        for r in wordcount.word_counts(tables["documents"]).collect()
    )
    stream = sorted(
        (r["word"], r["cnt"])
        for r in fixture_queries.stream_word_count(spark, sf_dir).collect()
    )
    assert stream == batch


def test_stream_quality_gate_equals_batch(spark, sf_dir, tables):
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators.text import gopher_quality_rules
    from training_etl_demo_2_spark.streaming import fixture_queries

    flags = gopher_quality_rules(tables["documents"])
    batch = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("pass_all").cast("long")).alias("p"),
    ).collect()[0]
    out = fixture_queries.stream_quality_gate(spark, sf_dir).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_docs"], r["n_pass_all"]) == (batch["n"], batch["p"])
    # per-rule failures are each <= n_docs and consistent with pass_all
    fails = [
        r["n_fail_word_count"], r["n_fail_mean_word_len"],
        r["n_fail_symbol_ratio"], r["n_fail_alpha_words"],
        r["n_fail_stopwords"],
    ]
    assert all(0 <= f <= r["n_docs"] for f in fails)
    assert r["n_docs"] - r["n_pass_all"] <= sum(fails)


# ---------------------------------------------------------------------------
# round-8 batch C: elbow, negative sampling, dup weights, ORC roundtrip
# ---------------------------------------------------------------------------


def test_kmeans_elbow_monotone_and_matches_single_k(tables):
    from training_etl_demo_2_spark.operators import similarity

    out = {r["k"]: r for r in similarity.kmeans_elbow_curve(
        tables["embeddings"]
    ).collect()}
    ks = sorted(out)
    n = tables["embeddings"].count()
    assert all(out[k]["n_vectors"] == n for k in ks)
    # inertia decreases (weakly) as k grows — more centroids never fit worse
    for a, b in zip(ks, ks[1:]):
        assert out[a]["inertia_r6"] >= out[b]["inertia_r6"]


def test_negative_sampling_table_properties(tables):
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators import text as text_ops

    rows = text_ops.negative_sampling_table(tables["documents"]).collect()
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    # smoothing flattens: smoothed share of the top word is BELOW its
    # raw frequency share (power < 1 compresses the head)
    toks = tables["documents"].select(
        F.explode(F.split(F.lower("text"), " ")).alias("t")
    ).filter(F.col("t") != "")
    total = toks.count()
    top = rows[0]
    assert top["p_smooth_r6"] < top["cnt"] / total
    # probabilities are a valid prefix of a distribution
    assert 0 < top["p_smooth_r6"] < 1
    assert abs(sum(r["p_smooth_r6"] for r in rows) - rows[-1]["cum_mass_r6"]) < 1e-3


def test_dup_loss_weights_bounds(tables):
    from training_etl_demo_2_spark.operators import curation

    out = curation.dup_loss_weights(tables["documents"]).collect()
    for r in out:
        assert r["n_distinct_contents"] <= r["n_docs"]
        # sum of 1/copies over a source's docs is between its distinct
        # CONTRIBUTION floor (all copies cross-source) and n_docs
        assert 0 < r["sum_weight_r6"] <= r["n_docs"] + 1e-6
        assert 0 < r["effective_bp"] <= 10000


def test_dup_loss_weights_engineered(spark):
    from training_etl_demo_2_spark.operators import curation

    # sa: one content duplicated 4x -> weight 4*(1/4)=1, effective 2500bp
    rows = [(i, "same text here", "sa") for i in range(4)]
    rows += [(10 + i, f"unique text {i}", "sb") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["source"]: r for r in curation.dup_loss_weights(df).collect()}
    assert out["sa"]["sum_weight_r6"] == 1.0
    assert out["sa"]["effective_bp"] == 2500
    assert out["sb"]["sum_weight_r6"] == 3.0
    assert out["sb"]["effective_bp"] == 10000


def test_orc_roundtrip_matches_parquet_fold(spark, sf_dir):
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark import io as io_mod
    from training_etl_demo_2_spark.functions import FNV_MOD, rolling_hash

    out = io_mod.orc_roundtrip_summary(spark, sf_dir).collect()[0]
    docs = io_mod.load_tables(spark, sf_dir)["documents"]
    h = rolling_hash(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text"))
    ).cast("decimal(38,0)")
    ref = docs.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(h) % F.lit(FNV_MOD).cast("decimal(38,0)")).cast("long").alias("c"),
    ).collect()[0]
    assert out["n_rows"] == ref["n"]
    assert out["content_checksum"] == ref["c"]


def test_xml_roundtrip_parses_every_row(tables):
    from pyspark.sql import functions as F
    from training_etl_demo_2_spark.operators import relational_ext

    out = relational_ext.xml_roundtrip_stats(tables).collect()
    direct = (
        tables["events"]
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 10000.0 + F.lit(0.5)).cast("long")
            ).alias("s"),
        )
        .collect()
    )
    d = {r["event_type"]: (r["n"], r["s"]) for r in direct}
    o = {r["event_type"]: (r["n_events"], r["sum_value_e4"]) for r in out}
    assert o == d  # every row survived the XML encode->decode cycle


# ---------------------------------------------------------------------------
# property tests: session_gap_curve vs a brute-force Python reference
# ---------------------------------------------------------------------------


def test_session_gap_curve_brute_force_reference(spark):
    """Randomized (seeded) event sets checked against a pure-Python
    sessionizer: the lag/lead fold trick must agree with the obvious
    per-user greedy scan for every gap, including duplicate-timestamp
    and single-event users."""
    import random

    rng = random.Random(8)
    rows = []
    eid = 0
    for uid in range(12):
        t = 0
        for _ in range(rng.randint(1, 30)):
            t += rng.choice([0, 30, 301, 1801, 7201])
            rows.append((eid, uid, t))
            eid += 1
    df = spark.createDataFrame(
        [(e, u, float(t)) for e, u, t in rows],
        "event_id long, user_id long, epoch double",
    ).selectExpr(
        "event_id", "user_id", "CAST(to_timestamp(epoch) AS TIMESTAMP) AS ts"
    )
    from training_etl_demo_2_spark.operators import behavior

    out = {
        r["gap_minutes"]: r
        for r in behavior.session_gap_curve({"events": df}).collect()
    }

    by_user = {}
    for e, u, t in rows:
        by_user.setdefault(u, []).append((t, e))
    for g in (5, 30, 120):
        gs = g * 60
        n_sessions = n_single = idle = 0
        for u, evs in by_user.items():
            evs = sorted(evs)
            sizes = []
            cur = 1
            for (t0, _), (t1, _) in zip(evs, evs[1:]):
                if t1 - t0 > gs:
                    sizes.append(cur)
                    cur = 1
                else:
                    idle += t1 - t0
                    cur += 1
            sizes.append(cur)
            n_sessions += len(sizes)
            n_single += sum(1 for s in sizes if s == 1)
        r = out[g]
        assert r["n_sessions"] == n_sessions, g
        assert r["n_singleton_sessions"] == n_single, g
        assert r["intra_session_idle_s"] == idle, g


def test_ann_recall_vs_dim_monotone_and_bounded(tables):
    from training_etl_demo_2_spark.operators import similarity

    out = {r["out_dim"]: r for r in similarity.ann_recall_vs_dim(
        tables["embeddings"]
    ).collect()}
    dims = sorted(out)
    for d in dims:
        r = out[d]
        assert 0 <= r["hits"] <= r["n_queries"] * 5
        assert 0 <= r["recall_bp"] <= 10000
    # more projection dimensions preserve MORE ranking structure on
    # average; allow small non-monotonic wobble (random directions)
    assert out[dims[-1]]["recall_bp"] >= out[dims[0]]["recall_bp"] - 1500
    # the widest arm must beat chance (k/(n-1) baseline) clearly — on
    # the near-random synthetic embeddings 8 of 64 dims keeps only a
    # few x chance (the curve's honest message: thin JL sketches are
    # for coarse bucketing, not fine ranking)
    n = tables["embeddings"].count()
    assert out[dims[-1]]["recall_bp"] > 2 * (10000 * 5 // max(n - 1, 1))


# ---------------------------------------------------------------------------
# hypothesis differential: W1 vs a brute-force python reference
# ---------------------------------------------------------------------------


def _w1_reference(rows):
    """Brute-force 1-Wasserstein per source vs the corpus, by direct
    CDF-area integration over the sorted support."""
    from collections import Counter, defaultdict

    per_src = defaultdict(Counter)
    total = Counter()
    for _doc, x, s in rows:
        per_src[s][x] += 1
        total[x] += 1
    xs = sorted(total)
    n = sum(total.values())
    out = {}
    for s, cnt in per_src.items():
        n_s = sum(cnt.values())
        area = 0.0
        cum_s = cum_t = 0
        for x, nxt in zip(xs, xs[1:]):
            cum_s += cnt.get(x, 0)
            cum_t += total[x]
            area += abs(cum_s / n_s - cum_t / n) * (nxt - x)
        out[s] = round(area, 6)
    return out


def test_wasserstein_hypothesis_differential(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from training_etl_demo_2_spark.operators import validation

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=1, max_value=200),  # n_chars
                st.sampled_from(["sa", "sb", "sc"]),
            ),
            min_size=2,
            max_size=40,
        )
    )
    def check(items):
        rows = [(i, x, s) for i, (x, s) in enumerate(items)]
        df = spark.createDataFrame(
            rows, "doc_id long, n_chars long, source string"
        )
        got = {
            r["source"]: r["w1_chars_r6"]
            for r in validation.wasserstein_length_by_source(
                {"documents": df}
            ).collect()
        }
        want = _w1_reference(rows)
        assert set(got) == set(want)
        for s in want:
            assert abs(got[s] - want[s]) <= 1e-6, (s, got[s], want[s])

    check()


def test_lsh_probe_curve_monotone(tables):
    """More probes can only ADD candidates, so candidate volume and
    recall are non-decreasing in the radius; radius 1 must match the
    production lsh_topk (the radius-1 probe) recall shape."""
    from training_etl_demo_2_spark.operators import similarity

    out = {r["radius"]: r for r in similarity.lsh_probe_curve(
        tables["embeddings"]
    ).collect()}
    radii = sorted(out)
    assert [out[r]["n_probes_per_table"] for r in radii] == [1, 6, 16]
    for a, b in zip(radii, radii[1:]):
        assert out[a]["n_candidates"] <= out[b]["n_candidates"]
        assert out[a]["recall_bp"] <= out[b]["recall_bp"]
    assert out[radii[-1]]["recall_bp"] >= 9000  # radius 2 is near-exact
