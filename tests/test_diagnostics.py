"""Planted-fixture tests for the round-5 second batch: Pareto skyline,
join-skew audit, and token-budget corpus selection (plus the shared
distributed-rank helper they ride on)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from training_etl_demo_2_spark.operators import (
    curation,
    distrank,
    relational_ext,
    validation,
)


# ---------------------------------------------------------------------------
# distrank.with_global_order / distrank.ntile
# ---------------------------------------------------------------------------


def test_global_order_rank_and_prefix_sum(spark):
    rows = [(i, (i * 37) % 11 + 1, i % 4) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, w long, v long")
    expect = sorted(rows, key=lambda t: (t[1], t[0]))
    for inclusive in (False, True):
        out, n, totals = distrank.with_global_order(
            df, [F.asc("w"), F.asc("id")], weights=["w", "v"],
            inclusive=inclusive,
        )
        assert n == 50
        assert totals == {"w": sum(r[1] for r in rows), "v": sum(r[2] for r in rows)}
        got = sorted(
            (r["grank"], r["id"], r["cum_w"], r["cum_v"]) for r in out.collect()
        )
        acc_w = acc_v = 0
        for g, (eid, ew, ev) in enumerate(expect):
            if inclusive:
                acc_w, acc_v = acc_w + ew, acc_v + ev
            assert got[g] == (g, eid, acc_w, acc_v)
            if not inclusive:
                acc_w, acc_v = acc_w + ew, acc_v + ev


def test_global_order_empty_input(spark):
    df = spark.createDataFrame([], "id long, w long")
    out, n, totals = distrank.with_global_order(
        df, [F.asc("w")], weights=["w"]
    )
    assert n == 0 and totals == {"w": 0}
    assert out.columns == ["id", "w", "pid", "grank", "cum_w"]
    assert out.count() == 0


@pytest.mark.parametrize("n,tiles", [(23, 4), (50, 7), (3, 5), (0, 4)])
def test_ntile_matches_sql_ntile(spark, n, tiles):
    """distrank.ntile on the exact rank == Spark SQL ntile(tiles), for
    n % tiles != 0 (the first n % tiles tiles take one extra row) and
    for n < tiles (one row per tile)."""
    df = spark.range(n).select(((F.col("id") * 7) % 5).alias("v"), "id")
    out, n_rows, _ = distrank.with_global_order(df, ["v", "id"])
    got = {
        r["id"]: r["t"]
        for r in out.select(
            "id", distrank.ntile(F.col("grank"), n_rows, tiles).alias("t")
        ).collect()
    }
    df.createOrReplaceTempView("ntile_in")
    want = {
        r["id"]: r["t"]
        for r in spark.sql(
            f"SELECT id, ntile({tiles}) OVER (ORDER BY v, id) AS t FROM ntile_in"
        ).collect()
    }
    assert n_rows == n and got == want


# ---------------------------------------------------------------------------
# pareto_skyline
# ---------------------------------------------------------------------------


def _parts(spark, rows):
    return {
        "part": spark.createDataFrame(
            [
                (pk, f"part{pk}", "B", "T", size, price)
                for pk, price, size in rows
            ],
            "p_partkey long, p_name string, p_brand string, "
            "p_type string, p_size int, p_retailprice double",
        )
    }


def test_skyline_planted_dominance(spark):
    # (partkey, price, size): 1 dominates 2 (cheaper, bigger);
    # 3 is cheapest; 4 is biggest; 5 equal price to 1, smaller size.
    rows = [
        (1, 10.0, 50),
        (2, 12.0, 40),
        (3, 5.0, 10),
        (4, 20.0, 99),
        (5, 10.0, 49),
    ]
    out = relational_ext.pareto_skyline(_parts(spark, rows))
    assert sorted(r["p_partkey"] for r in out.collect()) == [1, 3, 4]


def test_skyline_matches_bruteforce(tables):
    got = {
        r["p_partkey"]
        for r in relational_ext.pareto_skyline(tables).collect()
    }
    pts = [
        (r["p_partkey"], int(round(r["p_retailprice"] * 100)), r["p_size"])
        for r in tables["part"].collect()
    ]
    expect = {
        pk
        for pk, pc, sz in pts
        if not any(
            (pc2 <= pc and sz2 >= sz and (pc2 < pc or sz2 > sz))
            for _, pc2, sz2 in pts
        )
    }
    assert got == expect and got


# ---------------------------------------------------------------------------
# join_skew_audit
# ---------------------------------------------------------------------------


def test_skew_audit_exact_gini_on_planted_counts(spark, tables):
    out = {
        r["key_name"]: r.asDict()
        for r in validation.join_skew_audit(tables).collect()
    }
    assert set(out) == {lbl for lbl, _, _ in validation.SKEW_AUDIT_KEYS}
    # recompute o_custkey stats in pure python
    cnts = sorted(
        tables["orders"].groupBy("o_custkey").count().rdd.map(
            lambda r: int(r["count"])
        ).collect()
    )
    n, s = len(cnts), sum(cnts)
    iw = sum((i + 1) * c for i, c in enumerate(cnts))
    gini_bp = (2 * iw - (n + 1) * s) * 10000 // (n * s)
    row = out["orders.o_custkey"]
    assert row["n_keys"] == n and row["n_rows"] == s
    assert row["max_cnt"] == cnts[-1]
    assert row["gini_bp"] == gini_bp
    assert row["top10_share_bp"] == sum(cnts[-10:]) * 10000 // s
    # shares are sane basis points
    assert 0 <= row["max_share_bp"] <= row["top10_share_bp"] <= 10000


# ---------------------------------------------------------------------------
# token_budget_selection
# ---------------------------------------------------------------------------


def test_budget_selection_fills_until_cross(spark, tables):
    sel = curation.token_budget_selection(tables)
    rows = sorted(
        (r["sel_rank"], r["n_tokens"], r["cum_tokens"])
        for r in sel.collect()
    )
    assert rows, "selection must be non-empty"
    total = (
        tables["documents"]
        .select(F.size(F.split(F.col("text"), " ")).alias("nt"))
        .agg(F.sum("nt"))
        .collect()[0][0]
    )
    budget = total // curation.TOKEN_BUDGET_DEN
    # contiguous ranks from 1
    assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
    # running total is consistent and fills until crossing the budget
    acc = 0
    for _, nt, cum in rows:
        acc += nt
        assert cum == acc
    last_before = rows[-1][2] - rows[-1][1]
    assert last_before < budget <= rows[-1][2] or rows[-1][2] < budget


def test_budget_selection_prefers_high_quality(tables):
    from training_etl_demo_2_spark.operators.text import text_quality

    sel = curation.token_budget_selection(tables)
    picked = {r["doc_id"] for r in sel.collect()}
    tq = {
        r["doc_id"]: r["quality_score"]
        for r in text_quality(tables["documents"]).collect()
    }
    if picked and len(picked) < len(tq):
        worst_picked = min(tq[d] for d in picked)
        best_skipped = max(tq[d] for d in tq if d not in picked)
        # greedy order ⇒ every skipped doc scores <= every picked doc
        # (modulo the µ-unit quantization tie band)
        assert worst_picked >= best_skipped - 1e-6
