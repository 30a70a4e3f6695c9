"""Relational breadth, part 2: correlated predicates (EXISTS / NOT
EXISTS as semi/anti joins), scalar subqueries, conditional aggregation,
pivot, cube, exact percentiles, and moving-window frames.

Extends ``relational.py`` toward full ad-hoc-SQL parity for the
reference's Athena analysis phase (``/root/reference/reqdef.yaml:69-73``)
— every shape a user could type against the parquet tables should have
a first-class, Catalyst-planned equivalent here.

Scale notes inline; determinism rules identical to ``relational.py``
(floats rounded, limits tie-broken, timestamps emitted as strings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from . import distrank


def q4_order_priority(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q4 shape: EXISTS(correlated inequality) → left-semi join.

    The semi join carries only the join keys through the shuffle (no
    lineitem payload columns); Catalyst rewrites the duplicate-free
    probe automatically. At 100 TB the shuffle is orderkey-keyed on
    both sides — the same co-partitioning every fact⋈orders query
    uses, so a bucketed layout amortizes it.
    """
    o, li = t["orders"], t["lineitem"]
    late = li.select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(late, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def idle_customers(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (avg balance of in-credit
    customers) + NOT EXISTS (no recent orders) → broadcast of a 1-row
    aggregate + left-anti join, grouped per nation.

    The 1-row threshold is broadcast (never a shuffle); the anti join
    shuffles only (custkey) pairs.
    """
    c, o, n = t["customer"], t["orders"], t["nation"]
    thr = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("thr_bal"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr_bal"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("n_name")
    )


def q17_small_quantity_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q17 shape: correlated avg-quantity subquery, decorrelated
    into a per-part aggregate joined back to the fact rows.

    Brand filter first (broadcast semi join) so both the aggregate and
    the re-join touch ~1/|brands| of lineitem; the per-part avg table
    is tiny → broadcast, leaving ONE shuffle (the brand filter's none —
    it's a broadcast) in the whole plan.
    """
    li, p = t["lineitem"], t["part"]
    bparts = p.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
    li_b = li.join(
        F.broadcast(bparts), F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    ).select("l_partkey", "l_quantity", "l_extendedprice")
    half_avg = li_b.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li_b.join(F.broadcast(half_avg), "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q14_promo_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (CASE inside SUM) over a
    fact⋈dim join for one ship-month. part is broadcast; the single
    output row needs no final shuffle beyond the global agg."""
    li, p = t["lineitem"], t["part"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
        )
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0)))
                / F.sum(disc),
                4,
            ).alias("promo_share_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q18_large_orders(t: dict[str, DataFrame], min_qty: float = 250.0) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a fact aggregate, joined back to
    orders+customer, top-20.

    The HAVING aggregate reduces lineitem to qualifying orderkeys
    BEFORE any wide join — the qualifying set is small, so both
    subsequent joins broadcast it. Top-20 fuses into
    TakeOrderedAndProject.
    """
    li, o, c = t["lineitem"], t["orders"], t["customer"]
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > min_qty)
    )
    return (
        o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("sum_qty", 2).alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


def priority_mix_by_year(t: dict[str, DataFrame]) -> DataFrame:
    """Conditional aggregation by derived key: urgent/high order share
    per order year. One shuffle on ~7 year groups, partials map-side."""
    o = t["orders"]
    urgent = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        o.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.sum(urgent).alias("n_urgent_high"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum(urgent) / F.count(F.lit(1)), 4).alias("urgent_share"),
        )
        .orderBy("order_year")
    )


def status_by_segment_pivot(t: dict[str, DataFrame]) -> DataFrame:
    """Pivot: order counts per market segment × order status. Explicit
    pivot values keep the plan single-pass (no distinct-values pre-job)
    — at 100 TB always enumerate pivot columns."""
    o, c = t["orders"], t["customer"]
    piv = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "c_mktsegment",
        F.coalesce(F.col("F"), F.lit(0)).alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_p"),
    ).orderBy("c_mktsegment")


def orders_cube_by_year(t: dict[str, DataFrame]) -> DataFrame:
    """CUBE over (status, order year): all 4 grouping combinations in a
    single Expand + one shuffle (vs 4 separate scans)."""
    o = t["orders"]
    return (
        o.cube("o_orderstatus", F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_totalprice"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("order_year").asc_nulls_first(),
        )
    )


def event_value_percentiles(t: dict[str, DataFrame]) -> DataFrame:
    """Exact percentiles (linear interpolation) per event type.

    Exact percentile is a sort-based aggregate — fine per small group
    domain. At 100 TB with huge groups switch to
    ``approx_percentile(value, p, accuracy)`` (t-digest-style sketch,
    mergeable map-side) and accept bounded error.
    """
    e = t["events"]
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
            F.round(F.percentile("value", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("value", F.lit(0.75)), 4).alias("p75"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def q7_nation_volume(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume — revenue between
    (supplier nation, customer nation) pairs per year.

    lineitem⋈orders is the one big shuffle; supplier, customer, and
    both nation copies are broadcast. The n1≠n2 predicate prunes
    after broadcast joins (cheap, no extra pass).
    """
    li, o, c, s, n = (
        t["lineitem"],
        t["orders"],
        t["customer"],
        t["supplier"],
        t["nation"],
    )
    n1 = n.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        # price(2dp) × (1-discount)(2dp) terms are exact 4-decimal
        # values, so group sums routinely land exactly on .xx5 — where
        # double accumulation order and round() half-way semantics both
        # diverge across engines. Sum exact integer ten-thousandths and
        # emit the full 4-decimal value (no lossy final round).
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
                        + F.lit(0.5)
                    ).cast("long")
                )
                / 10000.0
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        .filter(F.col("ship_year").isin(1996, 1997))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def q10_returned_items(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20.
    Return-flag filter pushes to the lineitem scan; customer/nation
    broadcast; top-20 fuses to TakeOrderedAndProject."""
    li, o, c, n = t["lineitem"], t["orders"], t["customer"], t["nation"]
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_returns"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def suppliers_per_brand(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per brand via the fact
    table (no partsupp table in this schema; lineitem carries the
    part→supplier pairs). distinct-agg = two-phase expand+agg, keyed on
    brand."""
    li, p = t["lineitem"], t["part"]
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
        .orderBy("p_brand")
    )


def top_part_per_brand(t: dict[str, DataFrame]) -> DataFrame:
    """Min/max-per-group join (TPC-H Q2's correlated-min shape): the
    priciest part within each brand, ties broken by partkey. Window
    row_number over a brand-keyed shuffle — the decorrelated form of
    ``WHERE price = (SELECT max(...) ... WHERE brand = outer.brand)``."""
    p = t["part"]
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            F.round("p_retailprice", 2).alias("retailprice"),
        )
        .orderBy("p_brand")
    )


def promo_heavy_suppliers(t: dict[str, DataFrame], min_qty: float = 50.0) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers that shipped
    more than ``min_qty`` units of PROMO parts. PROMO partkeys broadcast
    into a semi filter on lineitem; per-supplier qty agg; inner join back
    to supplier (keys only through every shuffle)."""
    li, p, s = t["lineitem"], t["part"], t["supplier"]
    promo_parts = p.filter(F.col("p_type") == "PROMO").select("p_partkey")
    qty = (
        li.join(
            F.broadcast(promo_parts),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
        .filter(F.col("promo_qty") > min_qty)
    )
    return (
        s.join(qty, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("promo_qty", 2).alias("promo_qty"),
        )
        .orderBy("s_suppkey")
    )


def q13_customer_distribution(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q13 shape: distribution of order counts — how many
    customers placed exactly N orders, INCLUDING zero-order customers
    (left join, count of non-null keys). Two cascaded aggregations:
    custkey-keyed then count-keyed; the second groups a relation no
    larger than |customers|."""
    c, o = t["customer"], t["orders"]
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))  # count skips nulls
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


def q11_important_parts(
    t: dict[str, DataFrame], fraction: float = 0.00075
) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery — parts whose
    total lineitem value exceeds ``fraction`` of the global total.

    The global total (1 row) is broadcast against the per-part
    aggregate; both aggregates sum exact integer ten-thousandths so the
    threshold comparison cannot flip on accumulation order.
    """
    li = t["lineitem"]
    term_t4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    per_part = li.groupBy("l_partkey").agg(F.sum(term_t4).alias("val_t4"))
    total = per_part.agg(F.sum("val_t4").alias("total_t4"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("val_t4") > F.col("total_t4") * fraction)
        .select(
            "l_partkey",
            (F.col("val_t4") / 10000.0).alias("part_value"),
            F.round(F.col("val_t4") / F.col("total_t4"), 6).alias("value_share"),
        )
    )


def q15_top_suppliers(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q15 shape: suppliers achieving the MAX quarterly revenue —
    max-over-aggregate, the decorrelated form of ``WHERE rev =
    (SELECT max(rev) ...)``: the max rides in as a ONE-ROW broadcast
    aggregate equi-joined back (keeps ties, unlike a LIMIT). A
    ``rank() OVER (ORDER BY rev)`` window would sort the whole
    per-supplier relation through one task for the same answer."""
    li, s = t["lineitem"], t["supplier"]
    term_t4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(term_t4).alias("rev_t4"))
    )
    mx = rev.agg(F.max("rev_t4").alias("rev_t4"))
    top = rev.join(F.broadcast(mx), "rev_t4")
    return (
        s.join(F.broadcast(top), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", (F.col("rev_t4") / 10000.0).alias("revenue"))
        .orderBy("s_suppkey")
    )


def nation_participation(t: dict[str, DataFrame]) -> DataFrame:
    """Full outer join: customer and supplier counts per nation key,
    keeping nations present on only one side (coalesced key, zero
    counts). The join-type matrix completer — both sides are small
    aggregates, so this is a cheap shuffle join at any scale."""
    c = t["customer"].groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    s = t["supplier"].groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    return (
        c.join(s, F.col("c_nationkey") == F.col("s_nationkey"), "full_outer")
        .select(
            F.coalesce(F.col("c_nationkey"), F.col("s_nationkey")).alias("nationkey"),
            F.coalesce(F.col("n_customers"), F.lit(0)).alias("n_customers"),
            F.coalesce(F.col("n_suppliers"), F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


def q8_market_share(
    t: dict[str, DataFrame], region: str = "EUROPE"
) -> DataFrame:
    """TPC-H Q8 shape: each nation's share of its region's revenue per
    order year — a ratio of aggregates, computed as a window over the
    grouped result (decorrelating the per-year total without a self
    join).

    Revenue accumulates as exact integer ten-thousandths (see
    q7_nation_volume) so the shares are bit-identical across engines;
    the share window repartitions only the tiny (year, nation) grouped
    relation.
    """
    li, o, c, n, r = (
        t["lineitem"],
        t["orders"],
        t["customer"],
        t["nation"],
        t["region"],
    )
    reg = r.filter(F.col("r_name") == region)
    term_t4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    grouped = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.sum(term_t4).alias("rev_t4"))
    )
    w = Window.partitionBy("order_year")
    return grouped.select(
        "order_year",
        "nation",
        (F.col("rev_t4") / 10000.0).alias("revenue"),
        F.round(F.col("rev_t4") / F.sum("rev_t4").over(w), 6).alias("mkt_share"),
    )


def sessionize_events_window(
    t: dict[str, DataFrame], gap_minutes: int = 30
) -> DataFrame:
    """Sessionization via ``session_window`` — the built-in alternative
    to the lag+running-sum formulation in ``relational.sessionize_events``
    (also the form that ports directly to streaming). One shuffle on
    (user_id, merged window).

    Boundary semantics differ from the lag formulation by design:
    ``session_window`` ranges are half-open ``[start, start+gap)``, so
    an event arriving EXACTLY ``gap`` after the previous one opens a new
    session (lag predicate ``>= gap``), while ``sessionize_events`` uses
    ``> gap``. Each query's oracle encodes its own boundary."""
    e = t["events"]
    return (
        e.groupBy(
            "user_id",
            F.session_window("ts", f"{gap_minutes} minutes").alias("win"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    )


def q19_disjunctive_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive (brand, size,
    quantity) clauses over a fact⋈dim join.

    Catalyst extracts the common l_quantity/p_size bounds from the OR
    for pushdown and broadcasts part; the residual disjunction
    evaluates post-join in codegen. The shape that tests predicate
    handling beyond simple AND chains.
    """
    li, p = t["lineitem"], t["part"]
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    clause1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 15))
        & (F.col("l_quantity").between(1, 11))
    )
    clause2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 25))
        & (F.col("l_quantity").between(10, 20))
    )
    clause3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 35))
        & (F.col("l_quantity").between(20, 30))
    )
    return j.filter(clause1 | clause2 | clause3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def customer_value_deciles(t: dict[str, DataFrame]) -> DataFrame:
    """Decile stats over customer balances via EXACT DISTRIBUTED ntile.

    ``ntile(10) OVER (ORDER BY ...)`` forces every row through one task
    (unpartitioned window) — a scale-killer. This plan keeps ntile's
    exact semantics (equal-depth buckets, ties split by rank order, so
    it matches the ntile SQL oracle bit-for-bit — which value-binning
    on approx_percentile cut points cannot) while staying parallel:
    the global rank on (c_acctbal, c_custkey) comes from
    ``distrank.with_global_order`` and the decile is ``distrank.ntile``
    on that rank.

    The per-decile agg afterwards is an ordinary 10-group groupBy.
    """
    c = t["customer"].select("c_acctbal", "c_custkey")
    ranked, n, _ = distrank.with_global_order(
        c, [F.asc("c_acctbal"), F.asc("c_custkey")]
    )
    tiled = ranked.select(
        distrank.ntile(F.col("grank"), n, 10).cast("int").alias("decile"),
        F.col("c_acctbal"),
    )
    return (
        tiled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
        )
        .orderBy("decile")
    )


def user_event_gaps(t: dict[str, DataFrame]) -> DataFrame:
    """lead() window: per-user gap to the next event, averaged per
    user. Single user-keyed shuffle; lead/lag pipeline in one window
    stage. Gap math in integer seconds (exact)."""
    e = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.lead("ts").over(w).cast("long") - F.col("ts").cast("long")
    return (
        e.withColumn("gap_s", gap)
        .filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_s").alias("sum_gap_s"),
            F.max("gap_s").alias("max_gap_s"),
        )
    )


def events_props_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Semi-structured path: parse the JSON ``props`` column with an
    explicit schema and aggregate an extracted field.

    ``from_json`` with a declared schema is codegen-friendly and cheap;
    at 100 TB never infer JSON schemas and never store JSON you can
    store as columns — this op exists for the ingest boundary.
    """
    e = t["events"]
    k = F.from_json("props", "k int")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def priorities_per_status(t: dict[str, DataFrame]) -> DataFrame:
    """Non-algebraic aggregate: the distinct priority set per order
    status, sorted for determinism. collect_set state grows with group
    cardinality — bounded here (5 values); for unbounded domains use
    approx sketches or the salted two-stage template instead.

    The set is emitted as a comma-joined string (not array) so the
    result is hashable by order-insensitive comparers on any engine."""
    return (
        t["orders"]
        .groupBy("o_orderstatus")
        .agg(
            F.array_join(
                F.sort_array(F.collect_set("o_orderpriority")), ","
            ).alias("priorities"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderstatus")
    )


# GROUPING SETS is exercised through the SQL surface: one ANSI text for
# both spark.sql and DuckDB (like sql_nation_revenue).
GROUPING_SETS_SQL = """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_totalprice
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def daily_revenue_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Moving-window frame: daily revenue + trailing 7-day average.

    Two-level plan: big shuffle to ~thousands of day groups, then a
    single-partition window over the (tiny) daily series. Revenue is
    summed as exact integer ten-thousandths PER ROW (the q7/q11/q15
    term_t4 pattern), never as a double sum: floating sums depend on
    accumulation order (Spark partial-agg order differs from DuckDB's
    and between runs), while integer sums are exact — the only way a
    grouped + moving aggregate hashes identically everywhere.
    """
    li = t["lineitem"]
    # floor(x*10000 + 0.5), not round(): round()'s half-way behavior on
    # doubles is engine-specific (decimal-string vs binary); floor is a
    # pure binary op, so identical doubles give identical units.
    term_t4 = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000 + F.lit(0.5)
    ).cast("long")
    daily = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(F.sum(term_t4).alias("t4"))
        # cents from exact t4 units via pure integer arithmetic
        .withColumn("cents", F.expr("(t4 + 50) div 100"))
        .withColumn("revenue", F.round(F.col("cents") / 100.0, 2))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    mavg7 = F.round(
        F.sum("cents").over(w) / F.count("cents").over(w) / 100.0, 4
    )
    return (
        daily.withColumn("mavg7", mavg7)
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "revenue",
            "mavg7",
        )
        .orderBy("day")
    )


def events_hourly_gapfilled(t: dict[str, DataFrame]) -> DataFrame:
    """Time-series gap filling (the hypertable ``time_bucket_gapfill``
    shape): a dense hourly grid per event_type over that type's
    observed [min_hour, max_hour] range, with zero-filled counts/sums
    for hours that saw no events — what downstream charting and
    anomaly baselines need (a missing hour IS a signal, not an absent
    row).

    Scale shape: the grid derives from a per-type min/max aggregate
    (5-row relation) whose hour range EXPLODES NARROWLY per type — no
    cartesian product, no driver loop; the left join back to the
    hourly aggregate is keyed on (event_type, hour). Sums in exact
    1e-4 integer units."""
    e = t["events"]
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = e.groupBy(
        hour.alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("value_t4"),
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            "event_type",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h"),
        )
    )
    return grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        F.coalesce("value_t4", F.lit(0)).cast("long").alias("value_t4"),
    )


EVENTS_GAPFILL_ORACLE = """
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                   AS value_t4
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, min(h) AS lo, max(h) AS hi FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT event_type,
               unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        FROM bounds
    )
    SELECT g.event_type,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
           coalesce(hourly.n_events, 0) AS n_events,
           coalesce(hourly.value_t4, 0) AS value_t4
    FROM grid g LEFT JOIN hourly USING (event_type, h)
"""


def mv_incremental_update(t: dict[str, DataFrame]) -> DataFrame:
    """Incremental materialized-view maintenance: a stored aggregate
    (orders revenue per priority over the even-orderkey "existing"
    partition) is brought up to date by MERGING the delta batch's
    partial aggregate — count and integer-cent sums are algebraic, so
    update cost is O(|delta| + |groups|), never a recompute of the
    base table. The registered query folds stored + delta and must
    equal the full-table aggregate (the oracle).

    At 100 TB this is the continuous-aggregate pattern: partial aggs
    stream in, the group-keyed merge touches only affected groups, and
    derived measures (avg) are recomputed from the mergeable ones at
    read time."""
    orders = t["orders"]
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(cents).cast("long").alias("sum_cents"),
        )

    stored = partial(orders.filter(F.col("o_orderkey") % 2 == 0))
    delta = partial(orders.filter(F.col("o_orderkey") % 2 == 1))
    return (
        stored.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("sum_cents").cast("long").alias("sum_cents"),
        )
        .select(
            "o_orderpriority",
            "n_orders",
            F.round(F.col("sum_cents") / 100.0, 2).alias("sum_price"),
            F.round(F.col("sum_cents") / F.col("n_orders") / 100.0, 4)
            .alias("avg_price"),
        )
    )


MV_INCREMENTAL_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) / 100.0, 2) AS sum_price,
           round(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                 AS BIGINT) * 1.0
                 / count(*) / 100.0, 4) AS avg_price
    FROM orders
    GROUP BY o_orderpriority
"""


def rolling_active_users(t: dict[str, DataFrame]) -> DataFrame:
    """Sliding-window distinct: users active in the trailing 24 hours,
    reported at every observed hour — the rolling DAU/"active in last
    day" metric, computed EXACTLY.

    Shape: distinct (hour, user) pairs (one dedup shuffle, pairs ≪
    events) are each expanded into the 24 window-hours they fund (a
    narrow sequence explode), then count(DISTINCT user) per window.
    The 24× expansion of the deduped pair relation is the classic
    exact-sliding-distinct trade; at 100 TB the approximate tier
    merges the daily HLL blocks in ``sketches.py`` instead (union of
    24 hourly sketches per window, no expansion) — this exact tier is
    the oracle-checkable ground truth the sketch path is tested
    against."""
    e = t["events"]
    hour = F.date_trunc("hour", F.col("ts"))
    pairs = e.select(hour.alias("h"), "user_id").distinct()
    observed = e.select(hour.alias("obs_h")).distinct()
    expanded = pairs.select(
        F.explode(
            F.sequence(
                "h",
                F.col("h") + F.expr("INTERVAL 23 HOURS"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("w"),
        "user_id",
    )
    return (
        expanded.join(observed, F.col("w") == F.col("obs_h"), "semi")
        .groupBy("w")
        .agg(F.countDistinct("user_id").cast("long").alias("active_users_24h"))
        .select(
            F.date_format("w", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "active_users_24h",
        )
    )


ROLLING_ACTIVE_USERS_ORACLE = """
    WITH pairs AS (
        SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
    ),
    observed AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
    expanded AS (
        SELECT unnest(generate_series(
                   h, h + INTERVAL 23 HOUR, INTERVAL 1 HOUR)) AS w,
               user_id
        FROM pairs
    )
    SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users_24h
    FROM expanded
    WHERE w IN (SELECT h FROM observed)
    GROUP BY w
"""


def events_props_variant(t: dict[str, DataFrame]) -> DataFrame:
    """Schema-on-read twin of ``events_props_stats`` on Spark 4's
    VARIANT type: ``parse_json`` ingests the props column ONCE into the
    binary variant encoding, ``variant_get`` extracts typed paths at
    query time — the open-schema path for semi-structured ingest where
    fields are not known up front (vs from_json's declared schema).

    Same aggregate, same oracle as the from_json twin would produce —
    proving the two ingestion modes agree. At 100 TB: variant columns
    store parsed binary (cheaper repeated extraction than JSON strings)
    and shredding pushes common paths into columns; extraction stays
    codegen-friendly.
    """
    e = t["events"]
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").cast("long").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


def revenue_trailing_7d(t: dict[str, DataFrame]) -> DataFrame:
    """Trailing-7-day order revenue per order date via a RANGE window
    frame — the value-based frame (rows at ANY density per day), which
    a ROWS frame cannot express. The order column is days-since-epoch
    (exact integer), so `rangeBetween(-6, 0)` means "this date and the
    6 calendar days before it" on both engines identically.

    One date-keyed aggregate (map-side partial sums) then one
    single-partition window over the ~|dates| relation — the window
    input is pre-aggregated to day grain, so the global frame runs on
    thousands of rows at any corpus size. Integer-cent sums keep it
    exact.
    """
    o = t["orders"]
    daily = (
        o.select(
            F.date_trunc("DAY", F.col("o_orderdate")).alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day")
        .agg(F.sum("cents").alias("day_cents"))
        .withColumn("day_num", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (F.col("day_cents") / 100.0).alias("revenue"),
        (F.sum("day_cents").over(w) / 100.0).alias("revenue_7d"),
    ).select(
        "day",
        F.round("revenue", 2).alias("revenue"),
        F.round("revenue_7d", 2).alias("revenue_7d"),
    )


REVENUE_TRAILING_7D_SQL = """
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM orders
        GROUP BY 1
    ),
    numbered AS (
        SELECT day, day_cents,
               datediff('day', DATE '1970-01-01', day) AS day_num
        FROM daily
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           round(day_cents / 100.0, 2) AS revenue,
           round(sum(day_cents) OVER (
               ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) / 100.0, 2) AS revenue_7d
    FROM numbered
"""


def events_hourly_forecast(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonal-naive capacity forecast: predicted events per
    (event_type, hour-of-day) for the day AFTER the observed window =
    the mean count of that (type, hour) slot across observed days —
    the baseline every capacity/anomaly system starts from (and the
    yardstick fancier models must beat).

    Exact arithmetic: per-slot totals are integer counts; the forecast
    is one IEEE division (total / n_days) rounded — identical both
    engines. Plan: one (type, day, hour) aggregate, one (type, hour)
    rollup over it, broadcast 1-row day count.
    """
    e = t["events"]
    slots = (
        e.select(
            "event_type",
            F.date_trunc("DAY", F.col("ts")).alias("day"),
            F.hour("ts").alias("hour"),
        )
        .groupBy("event_type", "day", "hour")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    days = e.select(
        F.count_distinct(F.date_trunc("DAY", F.col("ts"))).alias("n_days")
    )
    return (
        slots.groupBy("event_type", "hour")
        .agg(F.sum("n").cast("long").alias("total"))
        .crossJoin(F.broadcast(days))
        .select(
            "event_type",
            F.col("hour").cast("int").alias("hour"),
            F.round(F.col("total").cast("double") / F.col("n_days"), 6).alias(
                "forecast"
            ),
        )
    )


EVENTS_HOURLY_FORECAST_SQL = """
    WITH slots AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               CAST(hour(ts) AS INT) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    days AS (
        SELECT CAST(count(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_days
        FROM events
    )
    SELECT event_type, hour,
           round(CAST(sum(n) AS DOUBLE) / any_value(n_days), 6) AS forecast
    FROM slots CROSS JOIN days
    GROUP BY event_type, hour
"""


def orders_measures_unpivot(t: dict[str, DataFrame]) -> DataFrame:
    """Wide→long reshaping via the UNPIVOT operator (the inverse of
    `status_by_segment_pivot`): per-priority order measures melted to
    (priority, measure, value) rows — the metric-table layout BI and
    drift monitors consume. Integer-cent measures keep every cell
    exact; the unpivot itself is a narrow per-row expansion (3 rows
    out per input row, no shuffle beyond the feeding aggregate).
    """
    wide = (
        t["orders"]
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("sum_cents"),
            F.max(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("max_cents"),
        )
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "sum_cents", "max_cents"],
        variableColumnName="measure",
        valueColumnName="value",
    )


ORDERS_MEASURES_UNPIVOT_SQL = """
    WITH wide AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS sum_cents,
               CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS max_cents
        FROM orders
        GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, measure, value
    FROM wide UNPIVOT (value FOR measure IN (n_orders, sum_cents, max_cents))
"""


# ---------------------------------------------------------------------------
# per-type OLS value trend from integer sufficient statistics
# ---------------------------------------------------------------------------

# hours are counted from 2024-01-01 UTC so the x*y products stay far
# inside BIGINT at any fixture scale (documented bound in the docstring)
_OLS_EPOCH_S = 1_704_067_200


def events_value_trend_ols(t: dict[str, DataFrame]) -> DataFrame:
    """Per-type linear value trend: OLS slope/intercept of value (1e-4
    units) against event hour — the drift-direction gauge behind
    "is this metric creeping?" alerts, and the regression instance of
    the sufficient-statistic pattern (``embedding_gram_matrix``): the
    corpus reduces to five integer sums per group in ONE map-side
    partial aggregation, and the model solves from those scalars.

    Exactness: x (hours since 2024-01-01, floored) and y (value in
    1e-4 units) are exact integers, so the five sums are
    order-invariant BIGINTs; slope/intercept derive from those
    identical integers through one shared IEEE double sequence —
    bit-equal across engines, no tolerance. |Sxy| ~ x·y·n stays under
    2^63 through ~1e9 rows at fixture value ranges; past that, sums
    switch to DECIMAL(38,0) (same note as the gram matrix).
    Constant-x groups emit NULL slope/intercept via the zero
    denominator guard.

    Scale: one hash aggregate, partial-agg friendly, five scalars per
    group — nothing else moves.
    """
    e = t["events"]
    x = F.floor(
        (F.unix_timestamp("ts") - F.lit(_OLS_EPOCH_S)) / F.lit(3600.0)
    ).cast("long")
    y = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    agg = (
        e.select("event_type", x.alias("x"), y.alias("y"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    )
    nd = F.col("n").cast("double")
    sxd = F.col("sx").cast("double")
    syd = F.col("sy").cast("double")
    sxyd = F.col("sxy").cast("double")
    sxxd = F.col("sxx").cast("double")
    den = nd * sxxd - sxd * sxd
    slope = (nd * sxyd - sxd * syd) / den
    intercept = (syd - slope * sxd) / nd
    guard = lambda c: F.when(den != 0.0, F.round(c, 6) + F.lit(0.0))
    return agg.select(
        "event_type",
        "n",
        guard(slope).alias("slope_t4_per_hour"),
        guard(intercept).alias("intercept_t4"),
    )


EVENTS_VALUE_TREND_OLS = f"""
    WITH s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM (
            SELECT event_type,
                   CAST(floor((CAST(floor(epoch(ts)) AS BIGINT)
                               - {_OLS_EPOCH_S}) / 3600.0) AS BIGINT) AS x,
                   CAST(floor(value * 10000 + 0.5) AS BIGINT) AS y
            FROM events
        )
        GROUP BY event_type
    )
    SELECT event_type, n,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0.0
                THEN round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                     + 0.0
           END AS slope_t4_per_hour,
           CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) != 0.0
                THEN round((CAST(sy AS DOUBLE)
                            - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                              * CAST(sx AS DOUBLE))
                           / CAST(n AS DOUBLE), 6) + 0.0
           END AS intercept_t4
    FROM s
"""


# ---------------------------------------------------------------------------
# market-basket affinity (apriori-pruned pair mining)
# ---------------------------------------------------------------------------

AFFINITY_MIN_SUPPORT = 3
AFFINITY_TOPK = 50
# Degenerate-basket guard: a basket of m items expands to m(m-1)/2 pairs
# MAP-SIDE, so one pathological 1M-item basket would emit ~5*10^11 rows
# from a single task. Baskets above the cap are EXCLUDED (from pairing,
# support, and the order count alike — both engines) and counted; 1024
# bounds any task's expansion at ~524k pair rows. TPC-H orders have <= 7
# lineitems, so the cap never binds on the fixtures.
AFFINITY_MAX_BASKET = 1024


def part_affinity(
    t: dict[str, DataFrame],
    min_support: int = AFFINITY_MIN_SUPPORT,
    k: int = AFFINITY_TOPK,
    max_basket: int = AFFINITY_MAX_BASKET,
    log_drops: bool = False,
) -> DataFrame:
    """Frequent-pair mining with lift over order baskets: which part
    pairs co-occur in the same order more than their popularity
    predicts (lift = P(a,b)/(P(a)·P(b))) — the apriori/market-basket
    primitive; in a training-data pipeline the same shape mines
    co-occurring (source, artifact) or (tag, defect) associations.

    Pair generation is MAP-SIDE: one groupBy builds each order's
    distinct sorted basket set, and a higher-order-function expansion
    emits its pairs with no self-join. The apriori property (a pair at
    min-support implies both items at min-support) makes the final
    ``c >= min_support`` filter give the SAME output an item-level
    pre-prune would — so the prune is not needed for correctness here;
    its classical role is bounding the expansion. The expansion bound
    that IS enforced is ``max_basket``: baskets above it are excluded
    outright (from pairing, support, and the order count — a dropped
    basket contributes to nothing), so a single degenerate mega-basket
    can never emit a quadratic task; ``log_drops=True`` additionally
    counts and logs the exclusions (one extra action, off by default
    to keep construction lazy).
    Lift is a double from exact BIGINT counts; top-k fully tie-broken.
    """
    import logging

    # ONE groupBy on the order key produces the distinct sorted basket
    # sets; pair generation then happens MAP-SIDE from each array (a
    # higher-order-function combination expansion, no self-join) — two
    # shuffles fewer than the baskets⋈baskets formulation. Dropping
    # the pre-join item filter is exact by the apriori property: any
    # pair with c >= min_support has both items' support >= min_support
    # automatically, so item-level pruning can never change the output
    # — its value is bounding the expansion, which the max_basket cap
    # now bounds explicitly.
    all_sets = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    if log_drops:
        # opt-in diagnostic: one extra action over the basket relation.
        # Off by default so plan construction stays lazy (the cap
        # itself is always enforced below).
        n_dropped = all_sets.filter(F.size("parts") > max_basket).count()
        if n_dropped:
            logging.getLogger(__name__).warning(
                "part_affinity: excluded %d degenerate baskets (> %d items)",
                n_dropped,
                max_basket,
            )
    sets = all_sets.filter(F.size("parts") <= max_basket)
    # ONE-ROW basket-count aggregate broadcast into the lift expression
    # (no driver-side action; the event_type_pmi pattern)
    n = sets.agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    support = (
        sets.select(F.explode("parts").alias("part"))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
    )
    pair_expr = (
        "flatten(transform(parts, (x, i) -> "
        "transform(slice(parts, i + 2, size(parts)), "
        "y -> struct(x AS pa, y AS pb))))"
    )
    pairs = (
        sets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.pa", "p.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .filter(F.col("c") >= min_support)
    )
    sa = support.select(F.col("part").alias("pa"), F.col("s").alias("sa"))
    sb = support.select(F.col("part").alias("pb"), F.col("s").alias("sb"))
    scored = (
        pairs.join(sa, "pa")
        .join(sb, "pb")
        .crossJoin(F.broadcast(n))
        .select(
            "pa",
            "pb",
            "c",
            F.round(
                F.col("c").cast("double") * F.col("n_orders")
                / (F.col("sa").cast("double") * F.col("sb")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("pa"), F.asc("pb")
    ).limit(k)


def part_affinity_sql(
    min_support: int = AFFINITY_MIN_SUPPORT,
    k: int = AFFINITY_TOPK,
    max_basket: int = AFFINITY_MAX_BASKET,
) -> str:
    return f"""
    WITH raw_baskets AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem
    ),
    baskets AS (
        SELECT okey, part FROM raw_baskets
        WHERE okey IN (SELECT okey FROM raw_baskets
                       GROUP BY okey HAVING count(*) <= {max_basket})
    ),
    n AS (SELECT count(DISTINCT okey) AS n_orders FROM baskets),
    support AS (SELECT part, count(*) AS s FROM baskets GROUP BY 1),
    frequent AS (SELECT part FROM support WHERE s >= {min_support}),
    fb AS (SELECT b.okey, b.part FROM baskets b JOIN frequent USING (part)),
    pairs AS (
        SELECT a.part AS pa, b.part AS pb, count(*) AS c
        FROM fb a JOIN fb b ON a.okey = b.okey AND a.part < b.part
        GROUP BY 1, 2
        HAVING count(*) >= {min_support}
    )
    SELECT pa, pb, CAST(c AS BIGINT) AS c,
           round(c * 1.0 * n_orders / (za.s * 1.0 * zb.s), 6) AS lift
    FROM pairs
    JOIN support za ON za.part = pa
    JOIN support zb ON zb.part = pb
    CROSS JOIN n
    ORDER BY lift DESC, pa ASC, pb ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# Pareto skyline (2-D dominance frontier)
# ---------------------------------------------------------------------------

# Price buckets ($100 in cents) for the scan-parallel prefix max: the
# strictly-cheaper running max is computed per bucket in parallel, with
# a bucket-level (metadata-sized) carry-in — the watermark-audit shape.
SKYLINE_BUCKET_CENTS = 10_000


def pareto_skyline(t: dict[str, DataFrame]) -> DataFrame:
    """Skyline query (Borzsony/Kossmann/Stocker, ICDE 2001): the parts
    no other part dominates — here minimizing p_retailprice while
    maximizing p_size ("more part for less money"). Part a dominates b
    iff a.price <= b.price AND a.size >= b.size with at least one
    strict. The skyline is what a buyer shortlists without weighting
    the two objectives.

    2-D skylines need no pairwise join: collapse to the price-level
    relation (max size per distinct price), compute the running max of
    size over STRICTLY CHEAPER prices, and keep rows whose size beats
    it. A row is dominated iff  max_size(price' < price) >= size  OR
    max_size(price' = price) > size.

    Scale shape: prices are quantized to integer cents; the running
    max runs per price-bucket in parallel (rows-frame window inside
    each $100 bucket) with a bucket-level carry-in computed on the
    per-bucket maxima relation (metadata-sized, broadcast back) — no
    unpartitioned window, no n² dominance join. The final join back to
    parts is price-keyed.
    """
    p = t["part"].select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
    )
    per_price = p.groupBy("price_c").agg(F.max("p_size").alias("eq_max"))
    bkt = per_price.withColumn(
        "bucket",
        (
            (F.col("price_c") - F.col("price_c") % SKYLINE_BUCKET_CENTS)
            / SKYLINE_BUCKET_CENTS
        ).cast("long"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("price_c")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bkt = bkt.withColumn("lt_in_bucket", F.max("eq_max").over(w_in))
    bmax = bkt.groupBy("bucket").agg(F.max("eq_max").alias("b_max"))
    w_prev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.select(
        "bucket", F.max("b_max").over(w_prev).alias("prev_max")
    )
    lt_max = F.greatest(
        F.coalesce(F.col("lt_in_bucket"), F.lit(-(1 << 31))),
        F.coalesce(F.col("prev_max"), F.lit(-(1 << 31))),
    )
    levels = bkt.join(F.broadcast(carry), "bucket").select(
        "price_c", "eq_max", lt_max.alias("lt_max")
    )
    joined = p.join(levels, "price_c")
    return joined.filter(
        ~(
            (F.col("lt_max") >= F.col("p_size"))
            | (F.col("eq_max") > F.col("p_size"))
        )
    ).select("p_partkey", "price_c", "p_size")


def pareto_skyline_sql() -> str:
    """Twin of pareto_skyline as the INDEPENDENT NOT-EXISTS dominance
    formulation — a different algorithm converging on the same set, so
    the oracle checks semantics, not the window fixpoint."""
    return """
    WITH p AS (
        SELECT p_partkey, p_size,
               CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_c
        FROM part
    )
    SELECT a.p_partkey, a.price_c, a.p_size
    FROM p a
    WHERE NOT EXISTS (
        SELECT 1 FROM p b
        WHERE b.price_c <= a.price_c AND b.p_size >= a.p_size
          AND (b.price_c < a.price_c OR b.p_size > a.p_size)
    )
    """


# ---------------------------------------------------------------------------
# Pareto cumulative-share (ratio-to-report) of nation revenue
# ---------------------------------------------------------------------------

PARETO_TOP_BP = 8000  # the "80" of the 80/20 check, in basis points


def revenue_pareto_cumshare(t: dict[str, DataFrame]) -> DataFrame:
    """Ratio-to-report + running-share window report: nations ranked
    by revenue with each one's share and CUMULATIVE share of the
    total in exact basis points, flagging the head set that covers
    80% — the classic Pareto concentration readout (who actually
    funds the business / which shard keys dominate a partition plan).

    Exactness: revenue is exact summed cents; shares are integer
    floor(x·10⁴/total) basis points (exact integer division); the
    80% membership test compares integers (cum_before·10⁴ <
    PARETO_TOP_BP·total — no doubles anywhere).

    Scale shape: the fact collapses to |nations| rows in one
    broadcast-dim join + aggregate; the rank/cumsum windows run over
    that 25-row metadata relation. Output: one row per nation.
    """
    o, li = t["orders"], t["lineitem"]
    dim = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("o_custkey"), "n_name")
    )
    rev = (
        li.join(o.select("o_orderkey", "o_custkey"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dim), "o_custkey")
        .groupBy("n_name")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 100
                    + F.lit(0.5)
                ).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w_ord = Window.orderBy(F.desc("cents"), F.asc("n_name"))
    w_all = Window.partitionBy()
    dec = lambda c: c.cast("decimal(38,0)")
    cur = rev.select(
        "n_name",
        "cents",
        F.row_number().over(w_ord).alias("rank"),
        F.coalesce(
            F.sum("cents").over(
                w_ord.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cum_before"),
        F.sum("cents").over(w_all).cast("long").alias("total"),
    )
    # exact integer division (`div` / `//`) on both engines; the
    # cents·10⁴ products stay under int64 through ~$9·10¹² of total
    # revenue — past that promote to decimal(38,0)/HUGEINT
    return cur.select(
        F.col("n_name").alias("nation"),
        (F.col("cents").cast("double") / 100.0).alias("revenue_usd"),
        "rank",
        F.expr("(cents * 10000L) div total").cast("long").alias("share_bp"),
        F.expr("((cum_before + cents) * 10000L) div total")
        .cast("long")
        .alias("cum_share_bp"),
        (
            F.col("cum_before") * F.lit(10000).cast("long")
            < F.lit(PARETO_TOP_BP).cast("long") * F.col("total")
        )
        .cast("int")
        .alias("in_top80"),
    ).orderBy("rank")


def revenue_pareto_cumshare_sql() -> str:
    """Twin of revenue_pareto_cumshare: identical integer basis-point
    algebra."""
    return f"""
    WITH rev AS (
        SELECT n_name,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1
    ),
    cur AS (
        SELECT n_name, cents,
               row_number() OVER (ORDER BY cents DESC, n_name) AS rank,
               CAST(coalesce(sum(cents) OVER (
                   ORDER BY cents DESC, n_name
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before,
               CAST(sum(cents) OVER () AS BIGINT) AS total
        FROM rev
    )
    SELECT n_name AS nation,
           CAST(cents AS DOUBLE) / 100.0 AS revenue_usd,
           rank,
           CAST((cents * 10000) // total AS BIGINT) AS share_bp,
           CAST(((cum_before + cents) * 10000) // total AS BIGINT)
               AS cum_share_bp,
           CAST(cum_before * 10000 < {PARETO_TOP_BP} * total AS INT)
               AS in_top80
    FROM cur
    ORDER BY rank
    """


# ---------------------------------------------------------------------------
# DAU/MAU stickiness
# ---------------------------------------------------------------------------

STICKY_WINDOW_DAYS = 28


def dau_mau_stickiness(t: dict[str, DataFrame]) -> DataFrame:
    """DAU / trailing-28-day-MAU per observed day — the engagement
    ratio product teams steer by (how much of the monthly audience
    shows up on a given day), computed EXACTLY: both counts are
    distinct users, the ratio is integer basis points.

    Shape: distinct (day, user) pairs (one dedup shuffle, pairs ≪
    events) expand into the ≤28 window-days each pair funds (narrow
    sequence explode, same exact-sliding-distinct trade as
    ``rolling_active_users``); count(DISTINCT user) per window-day;
    inner-join back to observed days so quiet calendar gaps don't
    emit rows. At 100 TB the approximate tier merges daily HLL blocks
    instead — this exact tier is its testable ground truth.
    Output: one row per observed day.
    """
    e = t["events"]
    day = F.date_trunc("day", F.col("ts"))
    pairs = e.select(day.alias("d"), "user_id").distinct()
    dau = pairs.groupBy("d").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    expanded = pairs.select(
        F.explode(
            F.sequence(
                F.col("d"),
                F.col("d") + F.expr(
                    f"INTERVAL {STICKY_WINDOW_DAYS - 1} DAYS"
                ),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("wd"),
        "user_id",
    )
    mau = expanded.groupBy("wd").agg(
        F.count_distinct("user_id").cast("long").alias("mau")
    )
    return (
        dau.join(mau, dau["d"] == mau["wd"])
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "dau",
            "mau",
            F.expr("(dau * 10000L) div mau").cast("long").alias(
                "stickiness_bp"
            ),
        )
        .orderBy("day")
    )


def dau_mau_stickiness_sql() -> str:
    """Twin of dau_mau_stickiness: identical pair expansion."""
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
    ),
    dau AS (
        SELECT d, CAST(count(*) AS BIGINT) AS dau FROM pairs GROUP BY 1
    ),
    expanded AS (
        SELECT unnest(generate_series(
                   d, d + INTERVAL {STICKY_WINDOW_DAYS - 1} DAY,
                   INTERVAL 1 DAY)) AS wd,
               user_id
        FROM pairs
    ),
    mau AS (
        SELECT wd, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM expanded GROUP BY 1
    )
    SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau.dau, mau.mau,
           CAST((dau.dau * 10000) // mau.mau AS BIGINT) AS stickiness_bp
    FROM dau JOIN mau ON mau.wd = dau.d
    ORDER BY day
    """


# ---------------------------------------------------------------------------
# exact distributed weighted median
# ---------------------------------------------------------------------------


def weighted_median_value(t: dict[str, DataFrame]) -> DataFrame:
    """Exact quantity-weighted median line price per return flag — the
    distributed weighted-median pattern: sort within the group, running
    weight sum via a group-partitioned window, pick the FIRST value
    whose cumulative weight reaches half the total (the lower weighted
    median, the convention that needs no interpolation and therefore no
    float boundary). A plain median answers "the typical line"; the
    quantity-weighted one answers "the typical UNIT", which is what
    pricing/inventory questions actually ask.

    Exactness: weights are integer quantities (TPC-H quantities are
    whole numbers; floor-cast documented), prices compare as exact
    cents, and the half-total test cross-multiplies (2·cumw ≥ total) —
    no division anywhere before the output cast.

    Scale shape: ONE exchange on the group key feeds both the ordered
    running sum and the group total (same partitioning); the pick is a
    min over flagged rows — no global sort, no collect. Ties on price
    are closed by (price, orderkey, linenumber) so the running sum is
    over a strict total order.

    Output: one row per l_returnflag — (l_returnflag, total_qty,
    w_median_price).
    """
    li = t["lineitem"].select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
        "l_orderkey",
        "l_linenumber",
    )
    w_run = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("l_returnflag")
    flagged = li.select(
        "l_returnflag",
        "cents",
        F.sum("qty").over(w_run).alias("cumw"),
        F.sum("qty").over(w_tot).alias("total"),
    ).filter(F.col("cumw") * 2 >= F.col("total"))
    return flagged.groupBy("l_returnflag").agg(
        F.max("total").cast("long").alias("total_qty"),
        (F.min("cents").cast("double") / 100.0).alias("w_median_price"),
    )


def weighted_median_value_sql() -> str:
    """Twin: identical strict order, running sum, and half-total pick."""
    return """
    WITH li AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
               CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    run AS (
        SELECT l_returnflag, cents,
               sum(qty) OVER (PARTITION BY l_returnflag
                              ORDER BY cents, l_orderkey, l_linenumber
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cumw,
               sum(qty) OVER (PARTITION BY l_returnflag) AS total
        FROM li
    )
    SELECT l_returnflag,
           CAST(max(total) AS BIGINT) AS total_qty,
           CAST(min(cents) AS DOUBLE) / 100.0 AS w_median_price
    FROM run
    WHERE cumw * 2 >= total
    GROUP BY l_returnflag
    """


# ---------------------------------------------------------------------------
# XML codec round-trip (round 8) — §2.8 scalar-function surface
# ---------------------------------------------------------------------------


def xml_roundtrip_stats(t: dict) -> DataFrame:
    """Spark 4's built-in XML codec (to_xml / from_xml) proven
    value-preserving: each event row serializes its
    (event_type, micro-unit value) struct to an XML string, parses it
    back with a declared schema, and the parsed columns aggregate per
    type. The oracle computes the SAME aggregate directly from the
    parquet rows — equality means the XML encode→decode cycle lost
    nothing (the sibling of `orc_roundtrip` for the row-codec rather
    than the file-format axis, and the XML counterpart of the
    JSON/VARIANT family `events_props_variant` exercises).

    Values ride as floor(value·10⁴+0.5) micro-units so the comparison
    is integer-exact — float-to-text round-tripping through XML is
    deliberately kept out of the compared surface.

    Scale shape: both codec calls are row-local (whole-stage codegen,
    no UDF); one |types|-group fold.
    """
    ev = t["events"].select(
        "event_type",
        F.floor(F.col("value") * 10000.0 + F.lit(0.5))
        .cast("long")
        .alias("v"),
    )
    xml = ev.select(
        F.to_xml(F.struct("event_type", "v")).alias("x")
    )
    parsed = xml.select(
        F.from_xml(F.col("x"), "event_type string, v long").alias("p")
    )
    return (
        parsed.groupBy(F.col("p.event_type").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("p.v").cast("long").alias("sum_value_e4"),
        )
        .orderBy("event_type")
    )


def xml_roundtrip_stats_sql() -> str:
    """Twin computes the aggregate DIRECTLY from the rows — a gate
    match proves the engine's XML cycle is lossless."""
    return """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_value_e4
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """
