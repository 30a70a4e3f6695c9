"""Data-quality validation operators (Deequ-style, north-star layer).

A 100 TB training-data pipeline ingests from many upstream feeds; the
checks below are the standard pre-training gate: column profiles,
referential integrity, declarative constraint rules, and key
uniqueness. The reference has no counterpart (its only validation is
eyeballing ``show(5)`` — ``demo-etl-2a-notebook.py:44-46``); this
module fills SURVEY §5's "correctness by eyeball" vacuum with
machine-checkable relations, each with a DuckDB oracle twin.

Scale shapes:

* ``profile_columns`` — ONE aggregation pass; the multiple exact
  ``count_distinct`` aggregates plan as a single Expand + partial agg
  (k× row expansion through one shuffle of (col-tag, value) pairs).
  Exact distincts are the oracle-checkable tier; at 100 TB pass
  ``approx=True`` to swap in ``approx_count_distinct`` (HLL, no
  expansion, one map-side pass).
* ``fk_orphans`` — one pass per child table covering ALL its FK edges:
  left-join the (distinct-key) parents, count null-matches per edge in
  the same aggregate. Dimension parents broadcast; fact-sized parents
  (lineitem→orders) shuffle on the join key, which AQE handles.
* ``rule_violations`` — pure map-side conditional aggregation (one
  pass, no expansion): each rule is a ``sum(rule is not true)``.
* ``pk_duplicates`` — per-table distinct-vs-count, the classic
  partial-agg pattern.

All counts are cast to long on both engines (DuckDB ``sum(INT)``
otherwise promotes to HUGEINT → float64 in pandas, the round-1 hash
trap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_NUMERIC_TYPES = ("int", "bigint", "smallint", "tinyint", "float", "double")

ROUND = 2


def profile_columns(
    df: DataFrame, cols: list[str] | None = None, approx: bool = False
) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, n_distinct,
    min_num, max_num) — min/max populated for numeric columns only
    (rounded doubles), NULL otherwise.

    One aggregation job; the single result row is unpivoted driver-free
    via ``inline`` (it is 1 row — unpivot cost is nil)."""
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    distinct = F.approx_count_distinct if approx else F.count_distinct

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"__nulls_{c}")
        )
        aggs.append(distinct(F.col(c)).cast("long").alias(f"__dist_{c}"))
        if dtypes.get(c) in _NUMERIC_TYPES:
            aggs.append(
                F.round(F.min(F.col(c)).cast("double"), ROUND).alias(f"__min_{c}")
            )
            aggs.append(
                F.round(F.max(F.col(c)).cast("double"), ROUND).alias(f"__max_{c}")
            )

    row = df.agg(*aggs)
    structs = []
    for c in cols:
        is_num = dtypes.get(c) in _NUMERIC_TYPES
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__dist_{c}").alias("n_distinct"),
                (F.col(f"__min_{c}") if is_num else F.lit(None).cast("double")).alias(
                    "min_num"
                ),
                (F.col(f"__max_{c}") if is_num else F.lit(None).cast("double")).alias(
                    "max_num"
                ),
            )
        )
    return row.select(F.inline(F.array(*structs)))


def profile_sql(table: str, cols: list[str], numeric: set[str]) -> str:
    """UNION-ALL oracle twin of ``profile_columns`` for DuckDB."""
    parts = []
    for c in cols:
        mn = f"round(CAST(min({c}) AS DOUBLE), {ROUND})" if c in numeric else "CAST(NULL AS DOUBLE)"
        mx = f"round(CAST(max({c}) AS DOUBLE), {ROUND})" if c in numeric else "CAST(NULL AS DOUBLE)"
        parts.append(
            f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, "
            f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
            f"{mn} AS min_num, {mx} AS max_num FROM {table}"
        )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------

# (child table, fk column, parent table, pk column, parent is broadcastable dim)
FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey", False),
    ("lineitem", "l_orderkey", "orders", "o_orderkey", False),
    ("lineitem", "l_partkey", "part", "p_partkey", True),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey", True),
    ("customer", "c_nationkey", "nation", "n_nationkey", True),
    ("supplier", "s_nationkey", "nation", "n_nationkey", True),
    ("nation", "n_regionkey", "region", "r_regionkey", True),
)


def fk_orphans(t: dict[str, DataFrame]) -> DataFrame:
    """Orphan counts for every FK edge of the star schema:
    (edge, n_child_rows, n_orphans). An orphan is a NON-NULL child key
    with no parent row (NULL FKs are absent-by-design, not violations —
    ANSI MATCH SIMPLE semantics).

    One pass per child table: all of its parents are left-joined in a
    single plan and every edge's orphan count comes out of one
    aggregate, so lineitem is scanned once for its three edges."""
    by_child: dict[str, list] = {}
    for child, fk, parent, pk, is_dim in FK_EDGES:
        by_child.setdefault(child, []).append((fk, parent, pk, is_dim))

    outs = []
    for child, edges in by_child.items():
        cur = t[child]
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
        for fk, parent, pk, is_dim in edges:
            marker = f"__hit_{fk}"
            par = t[parent].select(
                F.col(pk).alias(f"__pk_{fk}"), F.lit(1).alias(marker)
            ).distinct()
            if is_dim:
                par = F.broadcast(par)
            cur = cur.join(par, F.col(fk) == F.col(f"__pk_{fk}"), "left")
            aggs.append(
                F.sum(
                    (F.col(fk).isNotNull() & F.col(marker).isNull()).cast("long")
                )
                .cast("long")
                .alias(f"__orph_{fk}")
            )
        row = cur.agg(*aggs)
        structs = [
            F.struct(
                F.lit(f"{child}.{fk}->{parent}.{pk}").alias("edge"),
                F.col("__n").alias("n_child_rows"),
                F.col(f"__orph_{fk}").alias("n_orphans"),
            )
            for fk, parent, pk, _ in edges
        ]
        outs.append(row.select(F.inline(F.array(*structs))))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def fk_orphans_sql() -> str:
    parts = []
    for child, fk, parent, pk, _ in FK_EDGES:
        parts.append(
            f"SELECT '{child}.{fk}->{parent}.{pk}' AS edge, "
            f"count(*) AS n_child_rows, "
            f"CAST(sum(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL "
            f"THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans "
            f"FROM {child} c LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p "
            f"ON c.{fk} = p.{pk}"
        )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# declarative constraint rules
# ---------------------------------------------------------------------------

# rule name -> (table, SQL predicate that must hold). The predicate text
# is ANSI and runs verbatim on BOTH engines — one source of truth.
RULES = (
    ("lineitem_quantity_positive", "lineitem", "l_quantity > 0"),
    ("lineitem_discount_unit_range", "lineitem", "l_discount BETWEEN 0 AND 1"),
    ("lineitem_tax_nonnegative", "lineitem", "l_tax >= 0"),
    ("lineitem_price_positive", "lineitem", "l_extendedprice > 0"),
    ("lineitem_returnflag_domain", "lineitem", "l_returnflag IN ('A','N','R')"),
    ("lineitem_shipdate_present", "lineitem", "l_shipdate IS NOT NULL"),
    ("orders_totalprice_positive", "orders", "o_totalprice > 0"),
    ("orders_status_domain", "orders", "o_orderstatus IN ('F','O','P')"),
    ("orders_orderdate_present", "orders", "o_orderdate IS NOT NULL"),
    ("orders_priority_present", "orders", "o_orderpriority IS NOT NULL"),
)


def rule_violations(t: dict[str, DataFrame]) -> DataFrame:
    """Violation counts for the declarative rule set: (rule, n_rows,
    n_violations). A row violates when its predicate is not TRUE (NULL
    counts as a violation — three-valued logic made strict, as a data
    gate should be). Pure conditional aggregation: one map-side pass
    per table regardless of rule count."""
    by_table: dict[str, list] = {}
    for rule, table, pred in RULES:
        by_table.setdefault(table, []).append((rule, pred))

    outs = []
    for table, rules in by_table.items():
        aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
        for rule, pred in rules:
            ok = F.expr(pred)
            aggs.append(
                F.sum((~F.coalesce(ok, F.lit(False))).cast("long"))
                .cast("long")
                .alias(f"__viol_{rule}")
            )
        row = t[table].agg(*aggs)
        structs = [
            F.struct(
                F.lit(rule).alias("rule"),
                F.col("__n").alias("n_rows"),
                F.col(f"__viol_{rule}").alias("n_violations"),
            )
            for rule, _ in rules
        ]
        outs.append(row.select(F.inline(F.array(*structs))))
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def rule_violations_sql() -> str:
    parts = []
    by_table: dict[str, list] = {}
    for rule, table, pred in RULES:
        by_table.setdefault(table, []).append((rule, pred))
    for table, rules in by_table.items():
        for rule, pred in rules:
            parts.append(
                f"SELECT '{rule}' AS rule, count(*) AS n_rows, "
                f"CAST(sum(CASE WHEN NOT coalesce(({pred}), FALSE) "
                f"THEN 1 ELSE 0 END) AS BIGINT) AS n_violations "
                f"FROM {table}"
            )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# statistical anomaly detection
# ---------------------------------------------------------------------------


def value_anomalies(
    events: DataFrame, z_threshold: float = 3.0
) -> DataFrame:
    """Per-type z-score outliers in the events stream: rows whose value
    sits more than ``z_threshold`` sample standard deviations from the
    type mean — the batch form of the reqdef anomaly-notification
    scenario (``reqdef.yaml:11,15``), and the predicate the workflow
    anomaly hook evaluates.

    One shuffle: the per-type mean/stddev come from an UNORDERED window
    over event_type (whole-partition aggregate, no sort), so stats and
    scoring happen in a single pass after one exchange."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return (
        events.withColumn("z", z)
        .filter(F.abs(F.col("z")) > z_threshold)
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round("z", 4).alias("z"),
        )
    )


def value_anomalies_sql(z_threshold: float = 3.0) -> str:
    return f"""
    SELECT event_id, user_id, event_type,
           round(value, 2) AS value, round(z, 4) AS z
    FROM (
        SELECT event_id, user_id, event_type, value,
               (value - avg(value) OVER (PARTITION BY event_type))
                   / stddev_samp(value) OVER (PARTITION BY event_type) AS z
        FROM events
    )
    WHERE abs(z) > {z_threshold}
    """


# ---------------------------------------------------------------------------
# primary-key uniqueness
# ---------------------------------------------------------------------------

# table -> PK columns (lineitem's is composite)
PK_KEYS = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def pk_duplicates(t: dict[str, DataFrame]) -> DataFrame:
    """Uniqueness check per declared key: (table_name, n_rows,
    n_distinct_keys, n_dups, n_null_keys).

    NULL-safe by construction: everything derives from ONE
    groupBy(keys) per table, and GROUP BY places NULL keys in their own
    group with identical semantics in Spark and ANSI SQL — unlike
    count_distinct, which silently drops rows with any NULL key and
    made engine and oracle disagree exactly when the data was bad.
    n_dups counts rows beyond one per key group (NULL-keyed rows
    included); n_null_keys surfaces rows with any NULL key column so a
    PK violated by NULLs is visible on its own axis.

    One scan + one partial-agg shuffle per table; grand totals are
    group-count-sized aggregates."""
    outs = []
    for table, keys in PK_KEYS:
        null_pred = F.lit(False)
        for k in keys:
            null_pred = null_pred | F.col(k).isNull()
        per_key = (
            t[table]
            .groupBy(*[F.col(k) for k in keys])
            .agg(F.count(F.lit(1)).alias("c"))
            .select("c", null_pred.alias("has_null"))
        )
        outs.append(
            per_key.agg(
                F.lit(table).alias("table_name"),
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_distinct_keys"),
                F.coalesce(F.sum(F.col("c") - 1), F.lit(0))
                .cast("long")
                .alias("n_dups"),
                F.coalesce(
                    F.sum(F.when(F.col("has_null"), F.col("c")).otherwise(0)),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_null_keys"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


def pk_duplicates_sql() -> str:
    """Twin of pk_duplicates — the same single GROUP BY formulation, so
    NULL-key groups count identically on both engines."""
    parts = []
    for table, keys in PK_KEYS:
        key_list = ", ".join(keys)
        null_pred = " OR ".join(f"{k} IS NULL" for k in keys)
        parts.append(
            f"SELECT '{table}' AS table_name, "
            f"COALESCE(sum(c), 0)::BIGINT AS n_rows, "
            f"count(*)::BIGINT AS n_distinct_keys, "
            f"COALESCE(sum(c - 1), 0)::BIGINT AS n_dups, "
            f"COALESCE(sum(CASE WHEN has_null THEN c ELSE 0 END), 0)::BIGINT "
            f"AS n_null_keys "
            f"FROM (SELECT count(*) AS c, ({null_pred}) AS has_null "
            f"FROM {table} GROUP BY {key_list}) g"
        )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# winsorized statistics (outlier-robust aggregates)
# ---------------------------------------------------------------------------

WINSOR_LO = 0.01
WINSOR_HI = 0.99


def winsorized_stats(
    events: DataFrame, lo: float = WINSOR_LO, hi: float = WINSOR_HI
) -> DataFrame:
    """Winsorized per-type value statistics: clip each value to its
    type's [p_lo, p_hi] band before aggregating — the outlier-robust
    summary feeding threshold decisions (a heavy tail or sensor glitch
    cannot drag the mean). Emits the clip thresholds, the winsorized
    sum (exact integer 1e-4 units) and how many rows each side clipped.

    Percentiles are DISCRETE rank statistics (value at
    rank ceil(p*n) in (value, event_id) order), not interpolated —
    interpolation arithmetic differs across engines
    (a+(b-a)*f vs a*(1-f)+b*f round differently), while a picked value
    is bitwise identical everywhere. Values are only COMPARED for
    clipping, and the t4 integerization happens after the pick, so the
    whole output is exact.

    Scale shape: one rank window per type (the exact tier, same shape
    as customer_value_deciles — a per-type sort); the 5-row threshold
    relation broadcast-joins back for the clip pass. At 100 TB swap
    the rank window for approx_percentile thresholds (one map-side
    pass, no sort) and keep everything downstream unchanged — the
    documented approx sibling pattern of profile_columns.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pick = lambda p: F.max(
        F.when(
            F.col("rn") <= F.ceil(F.lit(p) * F.col("n")).cast("long"),
            F.col("value"),
        )
    )
    thr = ranked.groupBy("event_type").agg(
        pick(lo).alias("lo_val"),
        pick(hi).alias("hi_val"),
        F.max("n").cast("long").alias("n_events"),
    )
    clipped = F.least(
        F.greatest(F.col("value"), F.col("lo_val")), F.col("hi_val")
    )
    t4 = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")
    return (
        events.join(F.broadcast(thr), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n_events").alias("n_events"),
            t4(F.max("lo_val")).alias("lo_t4"),
            t4(F.max("hi_val")).alias("hi_t4"),
            F.sum(t4(clipped)).cast("long").alias("winsorized_sum_t4"),
            F.sum(
                F.when(F.col("value") < F.col("lo_val"), 1).otherwise(0)
            ).cast("long").alias("n_clipped_lo"),
            F.sum(
                F.when(F.col("value") > F.col("hi_val"), 1).otherwise(0)
            ).cast("long").alias("n_clipped_hi"),
        )
    )


def winsorized_stats_sql(lo: float = WINSOR_LO, hi: float = WINSOR_HI) -> str:
    return f"""
    WITH ranked AS (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    thr AS (
        SELECT event_type,
               max(CASE WHEN rn <= CAST(ceil({lo} * n) AS BIGINT)
                        THEN value END) AS lo_val,
               max(CASE WHEN rn <= CAST(ceil({hi} * n) AS BIGINT)
                        THEN value END) AS hi_val,
               CAST(max(n) AS BIGINT) AS n_events
        FROM ranked GROUP BY event_type
    )
    SELECT e.event_type,
           max(t.n_events) AS n_events,
           CAST(floor(max(t.lo_val) * 10000 + 0.5) AS BIGINT) AS lo_t4,
           CAST(floor(max(t.hi_val) * 10000 + 0.5) AS BIGINT) AS hi_t4,
           CAST(sum(CAST(floor(
               least(greatest(e.value, t.lo_val), t.hi_val) * 10000 + 0.5
           ) AS BIGINT)) AS BIGINT) AS winsorized_sum_t4,
           CAST(sum(CASE WHEN e.value < t.lo_val THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_lo,
           CAST(sum(CASE WHEN e.value > t.hi_val THEN 1 ELSE 0 END)
               AS BIGINT) AS n_clipped_hi
    FROM events e JOIN thr t USING (event_type)
    GROUP BY e.event_type
    """


# ---------------------------------------------------------------------------
# distribution drift (PSI)
# ---------------------------------------------------------------------------

PSI_BIN_WIDTH = 10.0
PSI_EPS = 1e-6


def value_drift_psi(
    reference: DataFrame,
    current: DataFrame,
    bin_width: float = PSI_BIN_WIDTH,
    eps: float = PSI_EPS,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    snapshot of the events stream, per event_type — the standard
    drift alarm in front of a training pipeline (PSI < 0.1 stable,
    0.1-0.25 moderate shift, > 0.25 drifted).

    Values bucket into fixed-width bins (the same mergeable layout as
    sketches.daily_value_histograms); per-type bin probabilities are
    floored at ``eps`` (one-sided smoothing for empty bins) and
    PSI = sum((p_cur - p_ref) * ln(p_cur / p_ref)) over the union of
    occupied bins. Two tiny groupBys + a full-outer join on
    (type, bin) — each side's bin relation is |types| x |occupied
    bins|, metadata-sized at any corpus scale.

    Float note: ln + division per bin, summed over a BOUNDED bin set
    (|occupied bins| <= range/width), rounded to 6 — the same
    error-margin argument as unigram_logprob.
    """
    def binned(df: DataFrame, side: str) -> DataFrame:
        counts = df.groupBy(
            "event_type",
            F.floor(F.col("value") / bin_width).cast("long").alias("bin"),
        ).agg(F.count(F.lit(1)).cast("long").alias(f"n_{side}"))
        totals = counts.groupBy("event_type").agg(
            F.sum(f"n_{side}").cast("long").alias(f"tot_{side}")
        )
        return counts.join(totals, "event_type")

    r = binned(reference, "ref")
    c = binned(current, "cur")
    j = r.join(c, ["event_type", "bin"], "full_outer")
    # A bin absent on one side keeps that side's total from the other
    # rows of its type; re-derive totals with a window to survive the
    # outer join's NULLs.
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type")
    tot_r = F.max("tot_ref").over(w)
    tot_c = F.max("tot_cur").over(w)
    p_r = F.greatest(
        F.coalesce(F.col("n_ref"), F.lit(0)) / tot_r, F.lit(eps)
    )
    p_c = F.greatest(
        F.coalesce(F.col("n_cur"), F.lit(0)) / tot_c, F.lit(eps)
    )
    term = (p_c - p_r) * F.log(p_c / p_r)
    return (
        j.select("event_type", term.alias("term"))
        .groupBy("event_type")
        .agg(F.round(F.sum("term"), 6).alias("psi"))
    )


def value_drift_psi_sql(
    ref_pred: str,
    cur_pred: str,
    bin_width: float = PSI_BIN_WIDTH,
    eps: float = PSI_EPS,
) -> str:
    return f"""
    WITH ref_counts AS (
        SELECT event_type,
               CAST(floor(value / {bin_width}) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_ref
        FROM events WHERE {ref_pred} GROUP BY 1, 2
    ),
    cur_counts AS (
        SELECT event_type,
               CAST(floor(value / {bin_width}) AS BIGINT) AS bin,
               CAST(count(*) AS BIGINT) AS n_cur
        FROM events WHERE {cur_pred} GROUP BY 1, 2
    ),
    j AS (
        SELECT coalesce(r.event_type, c.event_type) AS event_type,
               coalesce(r.bin, c.bin) AS bin,
               coalesce(n_ref, 0) AS n_ref,
               coalesce(n_cur, 0) AS n_cur
        FROM ref_counts r FULL OUTER JOIN cur_counts c
          ON r.event_type = c.event_type AND r.bin = c.bin
    ),
    t AS (
        SELECT event_type, bin, n_ref, n_cur,
               sum(n_ref) OVER (PARTITION BY event_type) AS tot_ref,
               sum(n_cur) OVER (PARTITION BY event_type) AS tot_cur
        FROM j
    )
    SELECT event_type,
           round(sum(
               (greatest(n_cur * 1.0 / tot_cur, {eps})
                - greatest(n_ref * 1.0 / tot_ref, {eps}))
               * ln(greatest(n_cur * 1.0 / tot_cur, {eps})
                    / greatest(n_ref * 1.0 / tot_ref, {eps}))
           ), 6) AS psi
    FROM t
    GROUP BY event_type
    """


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------

KANON_K = 5
# Fixture quasi-identifiers: nation × segment × account-balance band.
# The derived k$-band keeps the audit non-trivial at every scale factor
# (nation × segment alone saturates above ~1k rows and the violating
# set collapses to empty — a trivially-green gate row).
KANON_QI = ("c_nationkey", "c_mktsegment", "acctbal_kband")


def k_anonymity_audit(
    df: DataFrame,
    quasi_identifiers: tuple[str, ...] = KANON_QI,
    k: int = KANON_K,
) -> DataFrame:
    """Privacy-compliance audit: quasi-identifier combinations held by
    FEWER than ``k`` rows — the groups where releasing the combination
    re-identifies individuals (k-anonymity, Sweeney 2002). Release
    pipelines suppress or generalize exactly these groups.

    One hash-agg shuffle on the QI columns (partial aggregation
    map-side), output bounded by the QI domain product — metadata-sized
    at any corpus scale. NULL QI values group together (SQL GROUP BY
    semantics, identical on both engines). ``acctbal_kband`` (floor of
    the balance in k$) is derived here when requested: floor of the
    identical IEEE division on both engines, exact.
    """
    if "acctbal_kband" in quasi_identifiers:
        df = df.withColumn(
            "acctbal_kband", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
        )
    return (
        df.groupBy(*[F.col(c) for c in quasi_identifiers])
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
        .filter(F.col("group_size") < k)
        .select(*quasi_identifiers, "group_size")
    )


def k_anonymity_audit_sql(
    quasi_identifiers: tuple[str, ...] = KANON_QI, k: int = KANON_K
) -> str:
    qi = ", ".join(quasi_identifiers)
    return f"""
    SELECT {qi}, CAST(count(*) AS BIGINT) AS group_size
    FROM (SELECT *, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_kband
          FROM customer)
    GROUP BY {qi}
    HAVING count(*) < {k}
    """


LDIV_L = 3
LDIV_SENSITIVE = "c_acctbal"


def l_diversity_audit(
    df: DataFrame,
    quasi_identifiers: tuple[str, ...] = KANON_QI,
    sensitive: str = LDIV_SENSITIVE,
    l: int = LDIV_L,
) -> DataFrame:
    """l-diversity audit — the attribute-disclosure complement of
    ``k_anonymity_audit``: a QI group can be large (k-anonymous) yet
    still leak if everyone in it shares the sensitive value, so flag
    groups carrying FEWER than ``l`` distinct sensitive values
    (Machanavajjhala et al. 2007).

    Same shape as the k-audit: one hash aggregate on the QI columns —
    count + exact count_distinct(sensitive) — with metadata-sized
    output. Exact distincts are the auditable tier (a privacy gate
    cannot act on an estimate); the HLL swap documented on
    profile_columns does NOT apply here by design.
    """
    if "acctbal_kband" in quasi_identifiers:
        df = df.withColumn(
            "acctbal_kband", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
        )
    return (
        df.groupBy(*[F.col(c) for c in quasi_identifiers])
        .agg(
            F.count(F.lit(1)).cast("long").alias("group_size"),
            F.count_distinct(F.col(sensitive)).cast("long").alias(
                "n_sensitive"
            ),
        )
        .filter(F.col("n_sensitive") < l)
        .select(*quasi_identifiers, "group_size", "n_sensitive")
    )


def l_diversity_audit_sql(
    quasi_identifiers: tuple[str, ...] = KANON_QI,
    sensitive: str = LDIV_SENSITIVE,
    l: int = LDIV_L,
) -> str:
    qi = ", ".join(quasi_identifiers)
    return f"""
    SELECT {qi}, CAST(count(*) AS BIGINT) AS group_size,
           CAST(count(DISTINCT {sensitive}) AS BIGINT) AS n_sensitive
    FROM (SELECT *, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS acctbal_kband
          FROM customer)
    GROUP BY {qi}
    HAVING count(DISTINCT {sensitive}) < {l}
    """


# ---------------------------------------------------------------------------
# robust (median/MAD) anomaly detection
# ---------------------------------------------------------------------------

# 3 sigma-equivalents: the 1.4826 MAD->sigma consistency constant x 3,
# folded into ONE double literal so both engines multiply by the same
# bits (repr() round-trips it into the SQL twin).
ROBUST_Z = 3.0 * 1.4826


def robust_value_anomalies(events: DataFrame) -> DataFrame:
    """Median/MAD outlier detection per event type — the
    breakdown-point-0.5 sibling of ``value_anomalies``' z-score. A
    burst of extreme values inflates the stddev and masks itself
    (z-scores shrink as the contamination grows); the median/MAD pair
    is unmoved until half the data is bad, which is what a monitoring
    gate actually wants during an incident.

    Flag rule: |value - median| > 3 * 1.4826 * MAD (the MAD→σ
    consistency constant, so thresholds are comparable to the 3σ
    z-score tier).

    Exactness: medians are DISCRETE rank picks (value at rank
    ceil(n/2) in (value, event_id) order — the winsorized_stats
    argument: a picked value is bitwise identical across engines,
    interpolation is not), deviations subtract file doubles from
    picked doubles (identical IEEE ops), and the flag comparison
    multiplies the picked MAD by one shared literal — so the flagged
    row SET is exact, no tolerance. Only integer 1e-4 units reach the
    output.

    Scale shape: two rank windows per type (the exact tier) + two
    broadcast joins of |types|-row scalar relations. At 100 TB swap
    the rank windows for approx_percentile(0.5) thresholds — one
    map-side pass, no sort — and keep the flag pass unchanged (the
    documented approx-sibling pattern of profile_columns).
    """
    from pyspark.sql.window import Window

    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    half = lambda: F.ceil(F.lit(0.5) * F.col("n")).cast("long")
    ranked = events.select(
        "event_type",
        "value",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") <= half(), F.col("value"))).alias("med")
    )
    dev = (
        events.join(F.broadcast(med), "event_type")
        .withColumn("dev", F.abs(F.col("value") - F.col("med")))
    )
    w2 = Window.partitionBy("event_type").orderBy("dev", "event_id")
    ranked2 = dev.select(
        "event_type",
        "dev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mad = ranked2.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") <= half(), F.col("dev"))).alias("mad")
    )
    t4 = lambda c: F.floor(c * 10000 + F.lit(0.5)).cast("long")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("dev") > F.lit(ROBUST_Z) * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            t4(F.col("value")).alias("value_t4"),
            t4(F.col("med")).alias("med_t4"),
        )
    )


def robust_value_anomalies_sql() -> str:
    return f"""
    WITH ranked AS (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type,
               max(CASE WHEN rn <= CAST(ceil(0.5 * n) AS BIGINT)
                        THEN value END) AS med
        FROM ranked GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               abs(e.value - m.med) AS dev
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    ranked2 AS (
        SELECT event_type, dev,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY dev, event_id
               ) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type,
               max(CASE WHEN rn <= CAST(ceil(0.5 * n) AS BIGINT)
                        THEN dev END) AS mad
        FROM ranked2 GROUP BY event_type
    )
    SELECT d.event_id, d.event_type,
           CAST(floor(d.value * 10000 + 0.5) AS BIGINT) AS value_t4,
           CAST(floor(d.med * 10000 + 0.5) AS BIGINT) AS med_t4
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE d.dev > {ROBUST_Z!r} * m.mad
    """


# ---------------------------------------------------------------------------
# single-pass correlation matrix (profiling tier)
# ---------------------------------------------------------------------------

# (label, integerizing expression) for the correlated measures: exact
# integer inputs make every sufficient statistic an order-invariant
# BIGINT (the events_value_trend_ols rule). quantity/price floor to
# whole units; discount/tax to cents.
_CORR_MEASURES = (
    ("quantity", "floor(l_quantity)"),
    ("price", "floor(l_extendedprice)"),
    ("discount", "floor(l_discount * 100 + 0.5)"),
    ("tax", "floor(l_tax * 100 + 0.5)"),
)


def lineitem_correlations(t) -> "DataFrame":
    """Pairwise Pearson correlations of the lineitem measures from ONE
    map-side pass — the correlation-screening stage of data profiling
    (which measures move together?), and the bivariate instance of the
    sufficient-statistic pattern (``embedding_gram_matrix`` /
    ``events_value_trend_ols``): the table reduces to 14 integer sums
    (4 firsts, 4 squares, 6 cross-products) in a single aggregate; the
    6 correlations derive from those scalars.

    Exactness: measures are integerized first (units/cents), so every
    sum is an exact BIGINT — order-invariant under any partitioning —
    and r follows through one shared IEEE double sequence, rounded to
    6. Magnitudes: Σprice² ≤ n·1.1e10 — BIGINT-safe through ~1e8 rows;
    past that the sums switch to DECIMAL(38,0) (the gram-matrix note).
    Zero-variance columns yield NULL r via the denominator guard.

    Scale: one hash aggregate over 14 scalars, then a 6-row constant
    reshape. Nothing else moves.
    """
    from pyspark.sql import functions as F

    li = t["lineitem"]
    names = [n for n, _ in _CORR_MEASURES]
    vals = li.select(
        *[F.expr(e).cast("long").alias(n) for n, e in _CORR_MEASURES]
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i, a in enumerate(names):
        aggs.append(F.sum(F.col(a)).cast("long").alias(f"s_{a}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).cast("long").alias(f"ss_{a}"))
        for b in names[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).cast("long").alias(f"sp_{a}_{b}"))
    stats = vals.agg(*aggs)

    pair_rows = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            nd = F.col("n").cast("double")
            num = nd * F.col(f"sp_{a}_{b}").cast("double") - F.col(
                f"s_{a}"
            ).cast("double") * F.col(f"s_{b}").cast("double")
            va = nd * F.col(f"ss_{a}").cast("double") - F.col(f"s_{a}").cast(
                "double"
            ) * F.col(f"s_{a}").cast("double")
            vb = nd * F.col(f"ss_{b}").cast("double") - F.col(f"s_{b}").cast(
                "double"
            ) * F.col(f"s_{b}").cast("double")
            r = F.when(
                (va > 0) & (vb > 0),
                F.round(num / F.sqrt(va * vb), 6) + F.lit(0.0),
            )
            pair_rows.append(
                stats.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.col("n"),
                    r.alias("r"),
                )
            )
    out = pair_rows[0]
    for p in pair_rows[1:]:
        out = out.union(p)
    return out


def lineitem_correlations_sql() -> str:
    names = [n for n, _ in _CORR_MEASURES]
    exprs = [f"CAST({e} AS BIGINT) AS {n}" for n, e in _CORR_MEASURES]
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for i, a in enumerate(names):
        aggs.append(f"CAST(sum({a}) AS BIGINT) AS s_{a}")
        aggs.append(f"CAST(sum({a} * {a}) AS BIGINT) AS ss_{a}")
        for b in names[i + 1 :]:
            aggs.append(f"CAST(sum({a} * {b}) AS BIGINT) AS sp_{a}_{b}")
    selects = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = (
                f"CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE)"
            )
            va = (
                f"CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)"
            )
            vb = (
                f"CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)"
            )
            selects.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, n, "
                f"CASE WHEN ({va}) > 0 AND ({vb}) > 0 THEN "
                f"round(({num}) / sqrt(({va}) * ({vb})), 6) + 0.0 END AS r "
                f"FROM stats"
            )
    union = "\n    UNION ALL\n    ".join(selects)
    return f"""
    WITH vals AS (SELECT {", ".join(exprs)} FROM lineitem),
    stats AS (SELECT {", ".join(aggs)} FROM vals)
    {union}
    """


def lang_source_chi2(t: dict[str, DataFrame]) -> DataFrame:
    """Chi-square test of independence between two categorical profile
    columns (lang × source) — the data-drift / stratification-health
    statistic: a large χ² means language mix differs materially across
    sources, so per-source sampling changes the language balance (and
    vice versa). Reports χ², degrees of freedom, and cell count.

    Determinism: observed counts are exact; each cell's
    (O−E)²/E term is computed in double from exact BIGINT margins
    (margins enter the product as double — BIGINT rt·ct would overflow
    at corpus scale and DuckDB would widen to HUGEINT, diverging) and
    ROUNDED TO INTEGER NANO-UNITS before the sum, so the aggregate is
    order-invariant across partitions and engines. Scale shape: one
    hash aggregate for cells, two metadata-sized margin relations
    broadcast back — nothing grows with corpus size except the first
    aggregate.
    """
    d = t["documents"]
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    rows = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    cols = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    # category counts come from the MARGIN relations, not
    # count_distinct, so a NULL category (its own contingency class)
    # is counted in dof exactly as the grid treats it
    nl_rel = rows.agg(F.count(F.lit(1)).alias("nl"))
    ns_rel = cols.agg(F.count(F.lit(1)).alias("ns"))
    tot = (
        cells.agg(F.sum("o").alias("n"))
        .crossJoin(F.broadcast(nl_rel))
        .crossJoin(F.broadcast(ns_rel))
    )
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    term_nano = F.floor(
        (F.col("o") - e) * (F.col("o") - e) / e * 1e9 + F.lit(0.5)
    ).cast("long")
    # the test sums over the FULL margin grid — zero-observed cells
    # still contribute E to the statistic; both margin relations are
    # metadata-sized, so their cross product is too
    grid = rows.crossJoin(cols)
    # NULL-SAFE rejoin: a NULL lang/source is a real category; plain
    # equality would orphan its observed cell while keeping its
    # expected mass in the grid
    full = grid.join(
        cells.withColumnRenamed("lang", "c_lang").withColumnRenamed(
            "source", "c_source"
        ),
        grid["lang"].eqNullSafe(F.col("c_lang"))
        & grid["source"].eqNullSafe(F.col("c_source")),
        "left",
    ).select(
        "lang", "source", "rt", "ct", F.coalesce("o", F.lit(0)).alias("o")
    )
    return (
        full.crossJoin(F.broadcast(tot))
        .agg(
            F.round(F.sum(term_nano) / 1e9, 4).alias("chi2"),
            ((F.first("nl") - 1) * (F.first("ns") - 1))
            .cast("long")
            .alias("dof"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
        )
    )


LANG_SOURCE_CHI2_ORACLE = """
    WITH cells AS (
        SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    rows_m AS (SELECT lang, sum(o) AS rt FROM cells GROUP BY 1),
    cols_m AS (SELECT source, sum(o) AS ct FROM cells GROUP BY 1),
    tot AS (
        SELECT (SELECT sum(o) FROM cells) AS n,
               (SELECT count(*) FROM rows_m) AS nl,
               (SELECT count(*) FROM cols_m) AS ns
    ),
    grid_full AS (
        SELECT r.lang, s.source, r.rt, s.ct, coalesce(c.o, 0) AS o
        FROM rows_m r
        CROSS JOIN cols_m s
        LEFT JOIN cells c ON c.lang IS NOT DISTINCT FROM r.lang
                         AND c.source IS NOT DISTINCT FROM s.source
    ),
    terms AS (
        SELECT CAST(floor((f.o - (rt * 1.0) * ct / n)
                          * (f.o - (rt * 1.0) * ct / n)
                          / ((rt * 1.0) * ct / n) * 1e9 + 0.5) AS BIGINT)
                   AS term_nano,
               nl, ns
        FROM grid_full f
        CROSS JOIN tot
    )
    SELECT round(CAST(sum(term_nano) AS BIGINT) / 1e9, 4) AS chi2,
           CAST((first(nl) - 1) * (first(ns) - 1) AS BIGINT) AS dof,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM terms
"""


def order_total_consistency(t: dict[str, DataFrame]) -> DataFrame:
    """Cross-table arithmetic reconciliation: does each order's header
    total equal the sum of its lines under the TPC-H pricing formula
    Σ extendedprice·(1+tax)·(1−discount)? This is the audit the
    FK/PK/rule suite doesn't cover — per-key AGGREGATE consistency
    between a rollup column and its detail table (the classic
    double-entry check; in a data pipeline, manifest row counts vs
    shard contents is the same shape). One row:
    (n_orders_with_items, n_consistent, max_abs_diff_cents,
    sum_abs_diff_cents) — consistency is |diff| <= 1 cent to absorb
    the header's own rounding. Everything is exact integer cents, so
    the verdict is engine-identical. (This fixture's orders fail the
    check by construction — o_totalprice is generated independently —
    which is exactly what the audit should report.)

    Scale shape: one lineitem aggregate on the order key, one join to
    the header relation, one global aggregate — the same two shuffles
    as any detail-to-header rollup.
    """
    li, o = t["lineitem"], t["orders"]
    line_cents = F.floor(
        F.col("l_extendedprice")
        * (1 + F.col("l_tax"))
        * (1 - F.col("l_discount"))
        * 100
        + F.lit(0.5)
    ).cast("long")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(line_cents).alias("line_cents")
    )
    head_cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    joined = o.select(
        F.col("o_orderkey").alias("l_orderkey"), head_cents.alias("head_cents")
    ).join(per_order, "l_orderkey")
    diff = F.abs(F.col("head_cents") - F.col("line_cents"))
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders_with_items"),
        F.sum((diff <= 1).cast("long")).cast("long").alias("n_consistent"),
        F.max(diff).cast("long").alias("max_abs_diff_cents"),
        F.sum(diff).cast("long").alias("sum_abs_diff_cents"),
    )


ORDER_TOTAL_CONSISTENCY_ORACLE = """
    WITH per_order AS (
        SELECT l_orderkey,
               sum(CAST(floor(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                              * 100 + 0.5) AS BIGINT)) AS line_cents
        FROM lineitem GROUP BY 1
    ),
    joined AS (
        SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS head_cents,
               p.line_cents
        FROM orders o JOIN per_order p ON o.o_orderkey = p.l_orderkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_orders_with_items,
           CAST(sum(CASE WHEN abs(head_cents - line_cents) <= 1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
           CAST(max(abs(head_cents - line_cents)) AS BIGINT)
               AS max_abs_diff_cents,
           CAST(sum(abs(head_cents - line_cents)) AS BIGINT)
               AS sum_abs_diff_cents
    FROM joined
"""

# ---------------------------------------------------------------------------
# join-skew audit (shuffle-key distribution diagnostics)
# ---------------------------------------------------------------------------

# (label, table, key) triples audited: the fact-side shuffle keys the
# suite's big joins hash on.
SKEW_AUDIT_KEYS = (
    ("orders.o_custkey", "orders", "o_custkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
)
SKEW_TOPN = 10


def join_skew_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Shuffle-key skew diagnostics for the join keys the engine
    hashes on: per key, row/key cardinalities, the heaviest key's
    share, the top-10 keys' combined share, and the exact Gini
    coefficient of the per-key row-count distribution — the numbers
    that decide whether a join needs salting or AQE skew handling
    BEFORE the 100 TB run pays for it (max_share_bp = 500 means one
    reducer receives 5% of the table).

    Gini over ascending per-key counts c_(1..n):
        G = (2·Σ i·c_(i) − (n+1)·Σc) / (n·Σc)
    — exact integer arithmetic, emitted in basis points.

    Scale shape: one groupBy per audited key collapses data rows to
    the key inventory; the inventory's global sort uses the
    distributed rank (``distrank.with_global_order``), so no
    unpartitioned window ever sees the inventory. n_keys is a plan
    literal from the same partition metadata, making the top-10
    cut a filter, not a second window. Output: one row per audited
    key.
    """
    from . import distrank

    results = []
    for label, tbl, key in SKEW_AUDIT_KEYS:
        counts = (
            t[tbl]
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        ranked, n_keys, _ = distrank.with_global_order(
            counts, [F.asc("cnt"), F.asc("k")]
        )
        top_cut = n_keys - SKEW_TOPN
        agg = ranked.agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.max("cnt").cast("long").alias("max_cnt"),
            F.sum((F.col("grank") + 1) * F.col("cnt"))
            .cast("long")
            .alias("iwsum"),
            F.sum(F.when(F.col("grank") >= top_cut, F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("top10_cnt"),
        )
        s = F.col("n_rows")
        gini_num = F.lit(2) * F.col("iwsum") - F.lit(n_keys + 1) * s
        den = F.lit(n_keys) * s
        row = agg.select(
            F.lit(label).alias("key_name"),
            "n_rows",
            F.lit(n_keys).cast("long").alias("n_keys"),
            "max_cnt",
            ((F.col("max_cnt") * 10000 - (F.col("max_cnt") * 10000) % s) / s)
            .cast("long")
            .alias("max_share_bp"),
            (
                (F.col("top10_cnt") * 10000 - (F.col("top10_cnt") * 10000) % s)
                / s
            )
            .cast("long")
            .alias("top10_share_bp"),
            (
                (gini_num * 10000 - (gini_num * 10000) % den) / den
            )
            .cast("long")
            .alias("gini_bp"),
        )
        results.append(row)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def join_skew_audit_sql() -> str:
    """Twin of join_skew_audit: one CTE chain per audited key with
    row_number over (cnt, k), UNION ALL — the single-window oracle of
    the distributed rank."""
    blocks = []
    for label, tbl, key in SKEW_AUDIT_KEYS:
        blocks.append(f"""
    SELECT '{label}' AS key_name,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(cnt) AS BIGINT) AS max_cnt,
           CAST(max(cnt) * 10000 // sum(cnt) AS BIGINT) AS max_share_bp,
           CAST(sum(CASE WHEN rn > nk - {SKEW_TOPN}
                         THEN cnt ELSE 0 END) * 10000
                // sum(cnt) AS BIGINT) AS top10_share_bp,
           CAST((2 * sum(rn * cnt) - (count(*) + 1) * sum(cnt)) * 10000
                // (count(*) * sum(cnt)) AS BIGINT) AS gini_bp
    FROM (
        SELECT cnt,
               row_number() OVER (ORDER BY cnt, k) AS rn,
               count(*) OVER () AS nk
        FROM (SELECT {key} AS k, CAST(count(*) AS BIGINT) AS cnt
              FROM {tbl} GROUP BY 1)
    )""")
    return "\nUNION ALL\n".join(blocks)


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

import math as _math

# Benford probabilities log10(1 + 1/d); the same Python doubles feed
# both the Spark literals and the SQL twin's VALUES list, so the two
# engines compute chi2 from bit-identical constants.
BENFORD_P = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_digit_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Benford's-law conformance audit of order totals: the observed
    first-significant-digit distribution of o_totalprice vs the
    log10(1+1/d) expectation, with per-digit chi-square contributions
    — the standard anomaly screen for fabricated or truncated numeric
    columns (TPC-H's uniform price generator flunks it loudly, which
    is exactly what the audit should report).

    The first digit is taken from the INTEGER-CENTS string — no
    log10/floor float boundary (floor(log10(1000.0−ε)) differs across
    engines; substr of an integer's decimal rendering never does).

    Scale shape: one scan collapses to a ≤9-row digit relation; the
    share/chi2 arithmetic runs on that 9-row aggregate (the window
    there is over 9 rows of metadata, not data). Output: one row per
    observed digit.
    """
    from pyspark.sql import Window as _W

    o = t["orders"].filter(F.col("o_totalprice") > 0)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    g = o.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    w_all = _W.partitionBy()  # 9-row post-aggregate relation
    n = F.sum("n_obs").over(w_all)
    pmap = F.create_map(
        *[F.lit(x) for d in sorted(BENFORD_P) for x in (d, BENFORD_P[d])]
    )
    p = pmap[F.col("digit")]
    expect = n.cast("double") * p
    return g.select(
        "digit",
        "n_obs",
        ((F.col("n_obs") * 10000 - (F.col("n_obs") * 10000) % n) / n)
        .cast("long")
        .alias("obs_bp"),
        F.floor(p * 10000 + F.lit(0.5)).cast("long").alias("exp_bp"),
        F.round(
            F.pow(F.col("n_obs").cast("double") - expect, F.lit(2.0)) / expect,
            6,
        ).alias("chi2_r6"),
    )


def benford_digit_audit_sql() -> str:
    """Twin of benford_digit_audit; probabilities as the identical
    Python-repr double literals."""
    # cast: DuckDB types bare decimal literals in VALUES as DECIMAL(18,18),
    # which overflows at p * 10000 — force DOUBLE to match Spark
    vals = ", ".join(
        f"({d}, CAST({BENFORD_P[d]!r} AS DOUBLE))" for d in sorted(BENFORD_P)
    )
    return f"""
    WITH c AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders WHERE o_totalprice > 0
    ),
    g AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM c GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM g),
    e(digit, p) AS (VALUES {vals})
    SELECT g.digit, g.n_obs,
           CAST(g.n_obs * 10000 // t.n AS BIGINT) AS obs_bp,
           CAST(floor(e.p * 10000 + 0.5) AS BIGINT) AS exp_bp,
           round(pow(g.n_obs - t.n * e.p, 2) / (t.n * e.p), 6) AS chi2_r6
    FROM g JOIN e ON g.digit = e.digit CROSS JOIN t
    """


# ---------------------------------------------------------------------------
# two-sample Kolmogorov–Smirnov drift + Mann-Whitney U / AUC
# ---------------------------------------------------------------------------

KS_ALPHA_COEF = 1.36  # c(α) for α=0.05 in the two-sample KS critical value


def ks_drift_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift screen: for every
    source, D = max_x |CDF_source(x) − CDF_rest(x)| over the integer
    document-length statistic (n_chars), plus the α=0.05 decision
    against the asymptotic critical value 1.36·√(n/(n_s·n_r)) — the
    classic per-slice distribution-drift monitor that PSI
    (value_drift_psi) approximates with fixed bins; KS is binless and
    exact.

    Exactness: D's argmax is found on CROSS-MULTIPLIED INTEGERS
    (|cum_s·n_r − cum_r·n_s| in decimal(38,0) — no float compare
    decides the max); only the final reported statistic divides.

    Scale shape: one groupBy collapses the corpus to the
    (source, value) inventory; the evaluation grid is
    distinct-values × sources — METADATA × METADATA (a bounded-domain
    statistic × a bounded source registry), built with an explicit
    broadcast and allowlisted in test_plan_shapes. The per-source CDF
    window partitions by source (parallel); the per-value total is a
    window over each value's |sources| rows. No data row ever enters
    a window. Output: one row per source.
    """
    docs = t["documents"]
    csx = (
        docs.groupBy(F.col("source").alias("src"), F.col("n_chars").alias("x"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = csx.groupBy("src").agg(F.sum("c").cast("long").alias("n_s"))
    dx = csx.select("x").distinct()
    grid = dx.crossJoin(F.broadcast(tot))
    j = grid.join(csx, ["src", "x"], "left").withColumn(
        "c", F.coalesce(F.col("c"), F.lit(0))
    )
    w_src = Window.partitionBy("src").orderBy("x")
    w_val = Window.partitionBy("x")
    j = j.withColumn("cum_s", F.sum("c").over(w_src).cast("long"))
    j = j.withColumn("cum_t", F.sum("cum_s").over(w_val).cast("long"))
    j = j.withColumn("n", F.sum("n_s").over(w_val).cast("long"))
    dec = lambda col: col.cast("decimal(38,0)")
    num = F.abs(
        dec(F.col("cum_s")) * dec(F.col("n") - F.col("n_s"))
        - dec(F.col("cum_t") - F.col("cum_s")) * dec(F.col("n_s"))
    )
    per_src = (
        j.select("src", "n_s", "n", num.alias("num"))
        .groupBy("src", "n_s", "n")
        .agg(F.max("num").alias("numx"))
    )
    ns_d = F.col("n_s").cast("double")
    nr_d = (F.col("n") - F.col("n_s")).cast("double")
    d_full = F.col("numx").cast("double") / (ns_d * nr_d)
    crit = F.lit(KS_ALPHA_COEF) * F.sqrt(
        F.col("n").cast("double") / (ns_d * nr_d)
    )
    return per_src.select(
        F.col("src").alias("source"),
        F.col("n_s").alias("n_source"),
        (F.col("n") - F.col("n_s")).alias("n_rest"),
        F.round(d_full, 6).alias("ks_d_r6"),
        (d_full > crit).cast("int").alias("drifted"),
    )


def ks_drift_by_source_sql() -> str:
    """Twin of ks_drift_by_source: same grid, HUGEINT cross-multiplied
    max, identical double formulas for the statistic and the critical
    value."""
    return f"""
    WITH csx AS (
        SELECT source AS src, n_chars AS x, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_s FROM csx GROUP BY 1),
    dx AS (SELECT DISTINCT x FROM csx),
    grid AS (SELECT dx.x, tot.src, tot.n_s FROM dx CROSS JOIN tot),
    j AS (
        SELECT grid.x, grid.src, grid.n_s, coalesce(csx.c, 0) AS c
        FROM grid LEFT JOIN csx ON csx.src = grid.src AND csx.x = grid.x
    ),
    cums AS (
        SELECT x, src, n_s,
               CAST(sum(c) OVER (PARTITION BY src ORDER BY x) AS BIGINT)
                   AS cum_s
        FROM j
    ),
    full_c AS (
        SELECT x, src, n_s, cum_s,
               CAST(sum(cum_s) OVER (PARTITION BY x) AS BIGINT) AS cum_t,
               CAST(sum(n_s) OVER (PARTITION BY x) AS BIGINT) AS n
        FROM cums
    ),
    per_src AS (
        SELECT src, n_s, n,
               max(abs(CAST(cum_s AS HUGEINT) * (n - n_s)
                       - CAST(cum_t - cum_s AS HUGEINT) * n_s)) AS numx
        FROM full_c GROUP BY 1, 2, 3
    )
    SELECT src AS source, n_s AS n_source, n - n_s AS n_rest,
           round(CAST(numx AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * CAST(n - n_s AS DOUBLE)), 6)
               AS ks_d_r6,
           CAST(CAST(numx AS DOUBLE)
                / (CAST(n_s AS DOUBLE) * CAST(n - n_s AS DOUBLE))
                > {KS_ALPHA_COEF} * sqrt(CAST(n AS DOUBLE)
                   / (CAST(n_s AS DOUBLE) * CAST(n - n_s AS DOUBLE)))
                AS INT) AS drifted
    FROM per_src
    """


def mannwhitney_auc(t: dict[str, DataFrame]) -> DataFrame:
    """Mann-Whitney U test per source — does document length separate
    English from non-English documents? — reported as the exact
    tie-adjusted U and its AUC normalization U/(n₁·n₂) (the
    probability a random English doc is longer than a random
    non-English one; the rank-sum identity behind every ROC-AUC).

    Tie handling is the textbook midrank, computed in EXACT integers:
    2·R₊ = Σ_values cnt₊·(2·cum_before + cnt + 1), so
    u2 = 2·U = 2·R₊ − n₊(n₊+1) is integer-exact and AUC = u2/(2n₊n₋)
    divides once at the end. (At extreme corpus sizes the rank sums
    exceed int64 — promote to decimal(38,0) as ks_drift does; at any
    per-source slice under ~3·10⁹ rows int64 is exact.)

    Scale shape: one groupBy collapses to the (source, value)
    inventory; the midrank window partitions by source (parallel,
    inventory-sized). No grid, no crossJoin. Output: one row per
    source; AUC is NULL when a source lacks both classes.
    """
    docs = t["documents"]
    g = docs.groupBy(
        F.col("source").alias("src"), F.col("n_chars").alias("x")
    ).agg(
        F.sum((F.col("lang") == "en").cast("long")).alias("cpos"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w_prev = (
        Window.partitionBy("src")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = g.withColumn(
        "cumb", F.coalesce(F.sum("cnt").over(w_prev), F.lit(0)).cast("long")
    )
    per = g.groupBy("src").agg(
        F.sum("cpos").cast("long").alias("n_pos"),
        (F.sum("cnt") - F.sum("cpos")).cast("long").alias("n_neg"),
        F.sum(F.col("cpos") * (2 * F.col("cumb") + F.col("cnt") + 1))
        .cast("long")
        .alias("r2pos"),
    )
    u2 = F.col("r2pos") - F.col("n_pos") * (F.col("n_pos") + 1)
    return per.select(
        F.col("src").alias("source"),
        "n_pos",
        "n_neg",
        u2.cast("long").alias("u2"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                u2.cast("double")
                / (2.0 * F.col("n_pos").cast("double")
                   * F.col("n_neg").cast("double")),
                6,
            ),
        ).alias("auc_r6"),
    )


def mannwhitney_auc_sql() -> str:
    """Twin of mannwhitney_auc: identical integer midrank algebra."""
    return """
    WITH g AS (
        SELECT source AS src, n_chars AS x,
               CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
                   AS cpos,
               CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ),
    r AS (
        SELECT src, cpos, cnt,
               CAST(coalesce(sum(cnt) OVER (PARTITION BY src ORDER BY x
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING), 0) AS BIGINT) AS cumb
        FROM g
    ),
    per AS (
        SELECT src,
               CAST(sum(cpos) AS BIGINT) AS n_pos,
               CAST(sum(cnt) - sum(cpos) AS BIGINT) AS n_neg,
               CAST(sum(cpos * (2 * cumb + cnt + 1)) AS BIGINT) AS r2pos
        FROM r GROUP BY 1
    )
    SELECT src AS source, n_pos, n_neg,
           CAST(r2pos - n_pos * (n_pos + 1) AS BIGINT) AS u2,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN round(CAST(r2pos - n_pos * (n_pos + 1) AS DOUBLE)
                           / (2.0 * CAST(n_pos AS DOUBLE)
                              * CAST(n_neg AS DOUBLE)), 6)
           END AS auc_r6
    FROM per
    """


# ---------------------------------------------------------------------------
# deterministic Poisson bootstrap confidence interval
# ---------------------------------------------------------------------------

import math as _m2

BOOT_B = 200  # bootstrap resamples
BOOT_P = 1_000_000_007
# nonlinear per-(row, resample) mix — a LINEAR (A1·k + A2·b) hash makes
# u(k,b) a 2D lattice where every pair of rows keeps a FIXED offset
# across all resamples, so the resample means are correlated and the
# CI collapses (observed ~7x too narrow); the 3-round multiply-mod +
# xor-shift mix on k·B + b breaks the lattice
BOOT_SEED = (823_541_173, 467_214_671, 1_540_483_477 % BOOT_P, 599_479_259)
# Poisson(1) inverse-CDF thresholds scaled to [0, P): u < T_k -> w = k
_pois_cdf = []
_acc = 0.0
for _k in range(6):
    _acc += _m2.exp(-1.0) / _m2.factorial(_k)
    _pois_cdf.append(_acc)
BOOT_THRESH = [int(c * BOOT_P) for c in _pois_cdf]  # w caps at 6
# rank-based (no-interpolation) 95% CI: k-th smallest of B means
BOOT_K_LO = 5
BOOT_K_HI = BOOT_B + 1 - BOOT_K_LO


def bootstrap_mean_ci(t: dict[str, DataFrame]) -> DataFrame:
    """95% confidence interval for the mean order total via the
    DETERMINISTIC Poisson bootstrap (Chamandy et al., 'Estimating
    uncertainty for massive data streams', Google 2012): resample b's
    weight for a row is Poisson(1)-distributed via the inverse CDF of
    a seeded per-(row, b) hash — the one-pass, shuffle-free bootstrap
    used at terabyte scale, and reproducible bit-for-bit by the SQL
    twin because there is no RNG state, only arithmetic.

    Exactness: per-resample sums are INTEGER (cents × small integer
    weight); each bootstrap mean divides once; the CI is RANK-BASED
    (5th / 196th smallest of 200 means — no percentile
    interpolation), so the order statistics are decided on exact
    doubles shared by both engines.

    Scale shape: the B-fold explode feeds DIRECTLY into a partial
    (map-side) hash aggregate on b, so the exchange carries B rows
    per task, not B×n data rows; the CI window runs over the B-row
    bootstrap relation (metadata). The full-sample mean joins in as a
    ONE-ROW broadcast (allowlisted). At ~100× today's cents·weight
    sums, promote the per-b accumulator to decimal(38,0). Output: one
    row.
    """
    o = t["orders"].select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b")
    ex = o.select("k", "cents", b).withColumn("b", F.col("b").cast("long"))
    from .sketches import _hll_mix_spark

    u = _hll_mix_spark(F.col("k") * BOOT_B + F.col("b"), BOOT_SEED)
    w = F.lit(6)
    for kk in range(len(BOOT_THRESH) - 1, -1, -1):
        w = F.when(u < BOOT_THRESH[kk], kk).otherwise(w)
    per_b = (
        ex.select("b", (w * F.col("cents")).alias("wc"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum("wc").cast("long").alias("swc"),
            F.sum("w").cast("long").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            "b",
            (F.col("swc").cast("double") / F.col("sw").cast("double") / 100.0)
            .alias("mean_b"),
        )
    )
    w_rank = Window.orderBy("mean_b", "b")  # B-row metadata relation
    ranked = per_b.withColumn("rk", F.row_number().over(w_rank))
    ci = ranked.agg(
        F.count(F.lit(1)).alias("n_boot"),
        F.max(F.when(F.col("rk") == BOOT_K_LO, F.col("mean_b"))).alias("lo"),
        F.max(F.when(F.col("rk") == BOOT_K_HI, F.col("mean_b"))).alias("hi"),
    )
    full = t["orders"].agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("cents_tot"),
    )
    out = full.crossJoin(F.broadcast(ci))
    mean_full = F.col("cents_tot").cast("double") / F.col(
        "n_orders"
    ).cast("double") / 100.0
    return out.select(
        "n_orders",
        "n_boot",
        F.round(mean_full, 6).alias("mean_r6"),
        F.round(F.col("lo"), 6).alias("ci_lo_r6"),
        F.round(F.col("hi"), 6).alias("ci_hi_r6"),
        F.round(F.col("hi") - F.col("lo"), 6).alias("ci_width_r6"),
    )


def bootstrap_mean_ci_sql() -> str:
    """Twin of bootstrap_mean_ci: identical hash, thresholds, integer
    sums, rank-based CI."""
    from .sketches import _hll_mix_sql as _mix

    whens = "\n".join(
        f"               WHEN u < {t} THEN {k}"
        for k, t in enumerate(BOOT_THRESH)
    )
    return f"""
    WITH ex AS (
        SELECT o_orderkey AS k,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
               b
        FROM orders, unnest(range(0, {BOOT_B})) AS t(b)
    ),
    wts AS (
        SELECT b, cents,
               CASE
{whens}
               ELSE 6 END AS w
        FROM (SELECT *,
                     {_mix(f"(k * {BOOT_B} + b)", BOOT_SEED)} AS u
              FROM ex)
    ),
    per_b AS (
        SELECT b,
               CAST(sum(w * cents) AS BIGINT) AS swc,
               CAST(sum(w) AS BIGINT) AS sw
        FROM wts GROUP BY 1 HAVING sum(w) > 0
    ),
    ranked AS (
        SELECT b,
               CAST(swc AS DOUBLE) / CAST(sw AS DOUBLE) / 100.0 AS mean_b,
               row_number() OVER (ORDER BY CAST(swc AS DOUBLE)
                                  / CAST(sw AS DOUBLE) / 100.0, b) AS rk
        FROM per_b
    ),
    ci AS (
        SELECT CAST(count(*) AS BIGINT) AS n_boot,
               max(CASE WHEN rk = {BOOT_K_LO} THEN mean_b END) AS lo,
               max(CASE WHEN rk = {BOOT_K_HI} THEN mean_b END) AS hi
        FROM ranked
    ),
    full_s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS cents_tot
        FROM orders
    )
    SELECT n_orders, n_boot,
           round(CAST(cents_tot AS DOUBLE) / CAST(n_orders AS DOUBLE)
                 / 100.0, 6) AS mean_r6,
           round(lo, 6) AS ci_lo_r6,
           round(hi, 6) AS ci_hi_r6,
           round(hi - lo, 6) AS ci_width_r6
    FROM full_s CROSS JOIN ci
    """


RBO_K = 100
RBO_P = 0.9


def rbo_rank_compare(
    df: DataFrame, k: int = RBO_K, p: float = RBO_P
) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between two document
    rankings — by raw length (n_chars) vs by lexical richness
    (distinct token count). RBO@d = (1−p)·Σ_{i≤d} p^{i−1}·A_i with
    agreement A_i = |topA_i ∩ topB_i|/i: the top-weighted,
    prefix-convergent way to answer "do these two quality signals
    pick the same documents?", where Kendall/Spearman would need both
    lists to be conjoint. Emits the full depth curve 1..k plus the
    truncated RBO@d running value.

    Determinism: both rankings are fully tie-broken (score DESC,
    doc_id); each depth's weight term is nano-rounded BEFORE the
    cumulative integer sum (repo float-reduction rule), so the curve
    is an exact prefix sum of integers.

    Scale shape: two TakeOrderedAndProject top-k scans (the distinct
    token count is a narrow per-row transform — no shuffle); ranks
    come from windows over the two k-row results (metadata); the
    depth×rank theta join is k×k metadata (allowlisted BNLJ). Output:
    k rows.
    """
    spark = df.sparkSession
    by_len = (
        df.select("doc_id", F.col("n_chars").alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(k)
    )
    rich = F.size(
        F.array_distinct(
            F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
        )
    )
    by_rich = (
        df.select("doc_id", rich.alias("s"))
        .orderBy(F.col("s").desc(), "doc_id")
        .limit(k)
    )
    wa = Window.orderBy(F.col("s").desc(), "doc_id")
    ra = by_len.select("doc_id", F.row_number().over(wa).alias("ra"))
    rb = by_rich.select("doc_id", F.row_number().over(wa).alias("rb"))
    mr = ra.join(rb, "doc_id").select(
        F.greatest("ra", "rb").alias("mr")
    )
    depths = spark.range(1, k + 1).select(F.col("id").alias("depth"))
    c = (
        depths.join(
            F.broadcast(mr), F.col("mr") <= F.col("depth"), "left"
        )
        .groupBy("depth")
        .agg(
            F.sum(F.when(F.col("mr").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_common")
        )
    )
    agree = F.col("n_common").cast("double") / F.col("depth").cast("double")
    term_nano = F.floor(
        F.lit(1.0 - p)
        * F.pow(F.lit(p), F.col("depth").cast("double") - 1.0)
        * agree
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    wcum = Window.orderBy("depth").rowsBetween(Window.unboundedPreceding, 0)
    out = c.withColumn("t_nano", term_nano).withColumn(
        "rbo_nano", F.sum("t_nano").over(wcum).cast("long")
    )
    return out.select(
        "depth",
        "n_common",
        F.round(agree, 6).alias("agree_r6"),
        "rbo_nano",
        F.round(F.col("rbo_nano").cast("double") / 1e9, 6).alias("rbo_r6"),
    ).orderBy("depth")


def rbo_rank_compare_sql(k: int = RBO_K, p: float = RBO_P) -> str:
    """Twin of rbo_rank_compare: identical tie-breaks, nano rounding,
    and prefix-sum construction."""
    return f"""
    WITH by_len AS (
        SELECT doc_id, n_chars AS s FROM documents
        ORDER BY s DESC, doc_id LIMIT {k}
    ),
    by_rich AS (
        SELECT doc_id,
               len(list_distinct(list_filter(
                   string_split(lower(text), ' '), t -> t != ''))) AS s
        FROM documents ORDER BY s DESC, doc_id LIMIT {k}
    ),
    ra AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS ra
        FROM by_len
    ),
    rb AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY s DESC, doc_id) AS rb
        FROM by_rich
    ),
    mr AS (
        SELECT greatest(ra.ra, rb.rb) AS mr
        FROM ra JOIN rb USING (doc_id)
    ),
    depths AS (SELECT CAST(unnest(range(1, {k} + 1)) AS BIGINT) AS depth),
    c AS (
        SELECT depth,
               CAST(sum(CASE WHEN mr.mr IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_common
        FROM depths LEFT JOIN mr ON mr.mr <= depth
        GROUP BY 1
    ),
    terms AS (
        SELECT depth, n_common,
               CAST(floor((1.0 - CAST({p!r} AS DOUBLE))
                          * power(CAST({p!r} AS DOUBLE),
                                  CAST(depth AS DOUBLE) - 1.0)
                          * (CAST(n_common AS DOUBLE)
                             / CAST(depth AS DOUBLE))
                          * 1e9 + 0.5) AS BIGINT) AS t_nano
        FROM c
    )
    SELECT depth, n_common,
           round(CAST(n_common AS DOUBLE) / CAST(depth AS DOUBLE), 6)
               AS agree_r6,
           CAST(sum(t_nano) OVER (ORDER BY depth) AS BIGINT) AS rbo_nano,
           round(CAST(sum(t_nano) OVER (ORDER BY depth) AS DOUBLE) / 1e9, 6)
               AS rbo_r6
    FROM terms
    ORDER BY depth
    """


ISO_BINS = 32
ISO_BIN_W = 16.0


def isotonic_calibration(tables: dict) -> DataFrame:
    """Isotonic (monotone) calibration of purchase probability against
    the event value, solved EXACTLY via the minimax characterization
    of the pool-adjacent-violators fit: over value bins i,
    f_i = max_{j≤i} min_{k≥i} mean(y over bins j..k) (Barlow et al.
    1972) — the standard score-calibration step before thresholding a
    ranking signal. No driver-side PAV loop, no iteration: the whole
    solve is three joins over the B-bin relation.

    Exactness: bin aggregates and their prefix sums are exact
    integers; each candidate interval mean is ONE double division of
    exact longs, and max/min over doubles are order-invariant — so
    the fit is bit-identical across engines with no rounding
    machinery. Monotonicity of f is a theorem, pinned by a test.

    Scale shape: one key-partitioned aggregate collapses any event
    volume to ≤B bin rows; the prefix window, the j≤k interval
    relation (B² rows) and the j≤i≤k minimax join (≤B³ rows, B=32)
    are all metadata-sized (allowlisted BNLJ). Output: ≤B rows.
    """
    ev = tables["events"]
    b = (
        F.least(
            F.floor(F.col("value") / F.lit(ISO_BIN_W)),
            F.lit(ISO_BINS - 1),
        )
        .cast("long")
        .alias("b")
    )
    y = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    bins = (
        ev.select(b, y.alias("y"))
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("ysum"),
        )
    )
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        bins.withColumn("cy", F.sum("ysum").over(w).cast("long"))
        .withColumn("cn", F.sum("n").over(w).cast("long"))
    )
    j = cum.select(
        F.col("b").alias("jb"),
        (F.col("cy") - F.col("ysum")).alias("cy_prev"),
        (F.col("cn") - F.col("n")).alias("cn_prev"),
    )
    k = cum.select(
        F.col("b").alias("kb"), F.col("cy").alias("cy_k"), F.col("cn").alias("cn_k")
    )
    pairs = j.join(k, F.col("jb") <= F.col("kb")).select(
        "jb",
        "kb",
        (
            (F.col("cy_k") - F.col("cy_prev")).cast("double")
            / (F.col("cn_k") - F.col("cn_prev")).cast("double")
        ).alias("avg_jk"),
    )
    i = cum.select("b", "n", "ysum")
    inner = (
        i.join(
            F.broadcast(pairs),
            (F.col("jb") <= F.col("b")) & (F.col("kb") >= F.col("b")),
        )
        .groupBy("b", "n", "ysum", "jb")
        .agg(F.min("avg_jk").alias("mn"))
        .groupBy("b", "n", "ysum")
        .agg(F.max("mn").alias("iso"))
    )
    out = inner.select(
        "b",
        "n",
        F.col("ysum").alias("y"),
        F.round(F.col("ysum").cast("double") / F.col("n").cast("double"), 6)
        .alias("rate_r6"),
        F.round(F.col("iso"), 6).alias("iso_r6"),
    ).orderBy("b")
    return out


def isotonic_calibration_sql() -> str:
    """Twin of isotonic_calibration: identical bins, exact-integer
    interval means, same minimax joins."""
    return f"""
    WITH bins AS (
        SELECT CAST(least(floor(value / {ISO_BIN_W!r}), {ISO_BINS - 1})
                    AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ysum
        FROM events GROUP BY 1
    ),
    cum AS (
        SELECT b, n, ysum,
               CAST(sum(ysum) OVER (ORDER BY b) AS BIGINT) AS cy,
               CAST(sum(n) OVER (ORDER BY b) AS BIGINT) AS cn
        FROM bins
    ),
    pairs AS (
        SELECT j.b AS jb, k.b AS kb,
               CAST(k.cy - (j.cy - j.ysum) AS DOUBLE)
               / CAST(k.cn - (j.cn - j.n) AS DOUBLE) AS avg_jk
        FROM cum j JOIN cum k ON j.b <= k.b
    ),
    inner_min AS (
        SELECT i.b, i.n, i.ysum, p.jb, min(p.avg_jk) AS mn
        FROM cum i JOIN pairs p ON p.jb <= i.b AND p.kb >= i.b
        GROUP BY 1, 2, 3, 4
    ),
    fit AS (
        SELECT b, n, ysum, max(mn) AS iso
        FROM inner_min GROUP BY 1, 2, 3
    )
    SELECT b, n, ysum AS y,
           round(CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS rate_r6,
           round(iso, 6) AS iso_r6
    FROM fit ORDER BY b
    """


# ---------------------------------------------------------------------------
# Welch's t-test between source pairs
# ---------------------------------------------------------------------------

WELCH_T_CRIT = 1.96  # |t| threshold at alpha=0.05 (large-df normal approx)


def welch_ttest_sources(t: dict[str, DataFrame]) -> DataFrame:
    """Welch's unequal-variance t-test of mean document length between
    every pair of sources — the drift screen that says WHICH corpus
    slices differ in scale, with the exact statistic (not a rank proxy
    like ``mannwhitney_auc``). Reports t, the Welch-Satterthwaite
    degrees of freedom, and a normal-approximation significance flag.

    Exactness: n_chars is an integer, so each source collapses to the
    exact sufficient statistic (n, Σx, Σx²) — BIGINT-safe to ~10⁹ docs
    per source, then decimal(38,0) — and t/df follow through one
    shared IEEE double sequence, rounded to 6. Sample variance uses
    ddof=1: v = (n·Σx² − (Σx)²)/(n·(n−1)).

    Scale shape: one groupBy collapses the corpus to the |sources|-row
    statistic relation; the pairing is a self-join over THAT metadata
    relation (|sources|²/2 rows — source-registry-bounded, never
    data-sized). Output: one row per unordered source pair.
    """
    d = t["documents"]
    dec = lambda c: c.cast("decimal(38,0)")
    per = d.groupBy(F.col("source").alias("src")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(dec(F.col("n_chars")) * dec(F.col("n_chars"))).alias("ss"),
    )
    a, b = per.alias("a"), per.alias("b")
    j = a.join(F.broadcast(b), F.col("a.src") < F.col("b.src"), "inner")

    def _mv(side):
        n = F.col(f"{side}.n").cast("double")
        s = F.col(f"{side}.s").cast("double")
        ss = F.col(f"{side}.ss").cast("double")
        mean = s / n
        var = (n * ss - s * s) / (n * (n - 1.0))
        return n, mean, var

    n1, m1, v1 = _mv("a")
    n2, m2, v2 = _mv("b")
    se2 = v1 / n1 + v2 / n2
    tstat = (m1 - m2) / F.sqrt(se2)
    df = (se2 * se2) / (
        (v1 / n1) * (v1 / n1) / (n1 - 1.0)
        + (v2 / n2) * (v2 / n2) / (n2 - 1.0)
    )
    return j.select(
        F.col("a.src").alias("source_a"),
        F.col("b.src").alias("source_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(m1 - m2, 6).alias("mean_diff_r6"),
        F.round(tstat, 6).alias("t_r6"),
        F.round(df, 4).alias("df_r4"),
        (F.abs(tstat) > WELCH_T_CRIT).cast("int").alias("significant"),
    )


def welch_ttest_sources_sql() -> str:
    """Twin of welch_ttest_sources: identical integer sufficient
    statistics and double formula sequence."""
    return f"""
    WITH per AS (
        SELECT source AS src,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS s,
               sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
                   AS ss
        FROM documents GROUP BY 1
    ),
    j AS (
        SELECT a.src AS sa, b.src AS sb,
               a.n AS n1, a.s AS s1, a.ss AS ss1,
               b.n AS n2, b.s AS s2, b.ss AS ss2
        FROM per a JOIN per b ON a.src < b.src
    ),
    mv AS (
        SELECT sa, sb, n1, n2,
               CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
               CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
               (CAST(n1 AS DOUBLE) * CAST(ss1 AS DOUBLE)
                - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
               / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) AS v1,
               (CAST(n2 AS DOUBLE) * CAST(ss2 AS DOUBLE)
                - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
               / (CAST(n2 AS DOUBLE) * (CAST(n2 AS DOUBLE) - 1.0)) AS v2
        FROM j
    ),
    st AS (
        SELECT sa, sb, n1, n2, m1, m2, v1, v2,
               v1 / CAST(n1 AS DOUBLE) + v2 / CAST(n2 AS DOUBLE) AS se2
        FROM mv
    )
    SELECT sa AS source_a, sb AS source_b,
           n1 AS n_a, n2 AS n_b,
           round(m1 - m2, 6) AS mean_diff_r6,
           round((m1 - m2) / sqrt(se2), 6) AS t_r6,
           round((se2 * se2)
                 / ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                    / (CAST(n1 AS DOUBLE) - 1.0)
                    + (v2 / CAST(n2 AS DOUBLE)) * (v2 / CAST(n2 AS DOUBLE))
                      / (CAST(n2 AS DOUBLE) - 1.0)), 4) AS df_r4,
           CAST(abs((m1 - m2) / sqrt(se2)) > {WELCH_T_CRIT!r} AS INT)
               AS significant
    FROM st
    """


# ---------------------------------------------------------------------------
# mutual information / NMI / Cramér's V of the lang × source grid
# ---------------------------------------------------------------------------


def mutual_info_lang_source(t: dict[str, DataFrame]) -> DataFrame:
    """Association strength of the (lang, source) contingency table in
    THREE complementary metrics: mutual information in nats (how many
    bits of a doc's language its source reveals), the √(H·H)-normalized
    NMI ∈ [0,1], and Cramér's V (the χ²-based effect size missing from
    ``lang_source_chi2``, which reports raw χ²). The corpus-design
    question behind it: can language balance be tuned by reweighting
    sources at all?

    Exactness: every cell contributes floor(1e9·(c/N)·ln(c·N/(r·s)))
    nano-nats — rounded BEFORE the integer sum, so MI is
    order-invariant; the marginal entropies and χ² accumulate the same
    way. Only observed cells contribute (0·ln0 = 0 and χ² over
    EXPECTED cells uses the closed-form Σc²/(r·s) identity scaled by
    N, so absent cells need no grid).

    Scale shape: one groupBy to the |lang|×|source| observed-cell
    relation; margins and totals are window sums over that metadata
    relation. Output: one row.
    """
    d = t["documents"]
    joint = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_l = Window.partitionBy("lang")
    w_s = Window.partitionBy("source")
    w_all = Window.partitionBy()
    cells = joint.select(
        "lang",
        "source",
        "c",
        F.sum("c").over(w_l).cast("long").alias("r"),
        F.sum("c").over(w_s).cast("long").alias("s"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    dbl = lambda c: F.col(c).cast("double")
    mi_nano = F.floor(
        dbl("c")
        / dbl("n")
        * F.log(dbl("c") * dbl("n") / (dbl("r") * dbl("s")))
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    # chi2 = N * (sum_cells c^2/(r*s) - 1); accumulate c^2/(r*s) in
    # nano units per cell
    chi_nano = F.floor(
        dbl("c") * dbl("c") / (dbl("r") * dbl("s")) * 1e9 + F.lit(0.5)
    ).cast("long")
    # marginal entropies: each (lang,source) cell carries its row/col
    # margin share ONCE — divide by the number of cells in that margin
    agg = cells.groupBy().agg(
        F.max("n").alias("n"),
        F.count_distinct("lang").cast("int").alias("n_lang"),
        F.count_distinct("source").cast("int").alias("n_source"),
        F.sum(mi_nano).cast("long").alias("mi_nano"),
        F.sum(chi_nano).cast("long").alias("chi_nano"),
    )
    # entropies from the margin relations directly (exact per-margin)
    hl = (
        d.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
        .select(
            F.sum("r").over(Window.partitionBy()).alias("n"), F.col("r")
        )
        .select(
            F.floor(
                -(F.col("r").cast("double") / F.col("n").cast("double"))
                * F.log(
                    F.col("r").cast("double") / F.col("n").cast("double")
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("h_nano")
        )
        .groupBy()
        .agg(F.sum("h_nano").cast("long").alias("h_lang_nano"))
    )
    hs = (
        d.groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
        .select(
            F.sum("s").over(Window.partitionBy()).alias("n"), F.col("s")
        )
        .select(
            F.floor(
                -(F.col("s").cast("double") / F.col("n").cast("double"))
                * F.log(
                    F.col("s").cast("double") / F.col("n").cast("double")
                )
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("h_nano")
        )
        .groupBy()
        .agg(F.sum("h_nano").cast("long").alias("h_source_nano"))
    )
    out = agg.crossJoin(F.broadcast(hl)).crossJoin(F.broadcast(hs))
    mi = dbl("mi_nano") / 1e9
    chi2 = dbl("n") * (dbl("chi_nano") / 1e9 - 1.0)
    hprod = (dbl("h_lang_nano") / 1e9) * (dbl("h_source_nano") / 1e9)
    kmin = F.least(F.col("n_lang"), F.col("n_source")) - 1
    return out.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("n_lang").cast("int").alias("n_lang"),
        F.col("n_source").cast("int").alias("n_source"),
        F.round(mi, 6).alias("mi_nats_r6"),
        F.when(hprod > 0, F.round(mi / F.sqrt(hprod), 6)).alias("nmi_r6"),
        F.when(
            kmin > 0,
            F.round(
                F.sqrt(
                    F.greatest(chi2, F.lit(0.0))
                    / (dbl("n") * kmin.cast("double"))
                ),
                6,
            ),
        ).alias("cramers_v_r6"),
    )


def mutual_info_lang_source_sql() -> str:
    """Twin of mutual_info_lang_source: identical nano-nat cell sums."""
    return """
    WITH joint AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    cells AS (
        SELECT lang, source, c,
               CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS r,
               CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS s,
               CAST(sum(c) OVER () AS BIGINT) AS n
        FROM joint
    ),
    agg AS (
        SELECT max(n) AS n,
               CAST(count(DISTINCT lang) AS INT) AS n_lang,
               CAST(count(DISTINCT source) AS INT) AS n_source,
               CAST(sum(CAST(floor(
                   CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                   * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                        / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE)))
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS mi_nano,
               CAST(sum(CAST(floor(
                   CAST(c AS DOUBLE) * CAST(c AS DOUBLE)
                   / (CAST(r AS DOUBLE) * CAST(s AS DOUBLE))
                   * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS chi_nano
        FROM cells
    ),
    hl AS (
        SELECT CAST(sum(h_nano) AS BIGINT) AS h_lang_nano
        FROM (
            SELECT CAST(floor(
                -(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                * ln(CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
                * 1e9 + 0.5) AS BIGINT) AS h_nano
            FROM (SELECT CAST(count(*) AS BIGINT) AS r,
                         CAST(sum(count(*)) OVER () AS BIGINT) AS n
                  FROM documents GROUP BY lang)
        )
    ),
    hs AS (
        SELECT CAST(sum(h_nano) AS BIGINT) AS h_source_nano
        FROM (
            SELECT CAST(floor(
                -(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * ln(CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                * 1e9 + 0.5) AS BIGINT) AS h_nano
            FROM (SELECT CAST(count(*) AS BIGINT) AS s,
                         CAST(sum(count(*)) OVER () AS BIGINT) AS n
                  FROM documents GROUP BY source)
        )
    )
    SELECT CAST(a.n AS BIGINT) AS n_docs, a.n_lang, a.n_source,
           round(CAST(a.mi_nano AS DOUBLE) / 1e9, 6) AS mi_nats_r6,
           CASE WHEN (CAST(hl.h_lang_nano AS DOUBLE) / 1e9)
                     * (CAST(hs.h_source_nano AS DOUBLE) / 1e9) > 0
                THEN round(CAST(a.mi_nano AS DOUBLE) / 1e9
                           / sqrt((CAST(hl.h_lang_nano AS DOUBLE) / 1e9)
                                  * (CAST(hs.h_source_nano AS DOUBLE)
                                     / 1e9)), 6)
           END AS nmi_r6,
           CASE WHEN least(a.n_lang, a.n_source) - 1 > 0
                THEN round(sqrt(
                    greatest(CAST(a.n AS DOUBLE)
                             * (CAST(a.chi_nano AS DOUBLE) / 1e9 - 1.0),
                             0.0)
                    / (CAST(a.n AS DOUBLE)
                       * CAST(least(a.n_lang, a.n_source) - 1
                              AS DOUBLE))), 6)
           END AS cramers_v_r6
    FROM agg a CROSS JOIN hl CROSS JOIN hs
    """


# ---------------------------------------------------------------------------
# t-closeness audit (completes the k-anon / l-div privacy tier)
# ---------------------------------------------------------------------------

TCLOSE_T = 0.3  # max allowed total-variation distance
TCLOSE_QI = ("c_nationkey", "c_mktsegment")


def t_closeness_audit(
    t: dict[str, DataFrame], t_max: float = TCLOSE_T
) -> DataFrame:
    """t-closeness (Li-Li-Venkatasubramanian 2007) — the third rung of
    the release-audit ladder after ``k_anonymity_audit`` (group size)
    and ``l_diversity_audit`` (distinct sensitive values): a QI group
    leaks even with l diverse values if its sensitive DISTRIBUTION
    differs from the global one. Reports each (nation, segment)
    group's total-variation distance between its account-balance-band
    distribution and the corpus-wide one, flagged when > ``t_max``.

    Exactness: TVD over categorical bands is
    ½·Σ_b |cnt_gb/n_g − cnt_b/N| = [Σ_{b∈g} |cnt_gb·N − cnt_b·n_g|
    + n_g·(N − Σ_{b∈g} cnt_b)] / (2·N·n_g) — the second term closes
    the sum over bands ABSENT from the group, so only observed
    (group, band) cells are ever materialized (no grid) and the
    numerator is an exact BIGINT (decimal(38,0) past ~10⁹·bands rows);
    one division at the end.

    Scale shape: one groupBy to the observed (QI, band) cells, two
    metadata-sized margin joins (band margins, group margins). Output:
    one row per QI group.
    """
    cust = t["customer"].withColumn(
        "band", F.floor(F.col("c_acctbal") / 1000.0).cast("long")
    )
    qi = list(TCLOSE_QI)
    cells = cust.groupBy(*qi, "band").agg(
        F.count(F.lit(1)).cast("long").alias("c_gb")
    )
    bands = cust.groupBy("band").agg(
        F.count(F.lit(1)).cast("long").alias("c_b")
    )
    dec = lambda c: c.cast("decimal(38,0)")
    w_all = Window.partitionBy()
    bands = bands.select(
        "band", "c_b", F.sum("c_b").over(w_all).cast("long").alias("n")
    )
    joined = cells.join(F.broadcast(bands), "band").withColumn(
        "n_g",
        F.sum("c_gb").over(Window.partitionBy(*qi)).cast("long"),
    )
    per = joined.groupBy(*qi).agg(
        F.max("n_g").cast("long").alias("n_g"),
        F.max("n").cast("long").alias("n"),
        F.sum(
            F.abs(
                dec(F.col("c_gb")) * dec(F.col("n"))
                - dec(F.col("c_b")) * dec(F.col("n_g"))
            )
        ).alias("num_obs"),
        F.sum("c_b").cast("long").alias("cb_obs"),
    )
    num = F.col("num_obs") + dec(F.col("n_g")) * (
        dec(F.col("n")) - dec(F.col("cb_obs"))
    )
    tvd = num.cast("double") / (
        2.0 * F.col("n").cast("double") * F.col("n_g").cast("double")
    )
    return per.select(
        *qi,
        "n_g",
        F.round(tvd, 6).alias("tvd_r6"),
        (tvd > t_max).cast("int").alias("t_violated"),
    )


def t_closeness_audit_sql(t_max: float = TCLOSE_T) -> str:
    """Twin of t_closeness_audit: identical absent-band closed form."""
    qi = ", ".join(TCLOSE_QI)
    return f"""
    WITH cust AS (
        SELECT {qi}, CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band
        FROM customer
    ),
    cells AS (
        SELECT {qi}, band, CAST(count(*) AS BIGINT) AS c_gb
        FROM cust GROUP BY {qi}, band
    ),
    bands AS (
        SELECT band, CAST(count(*) AS BIGINT) AS c_b,
               CAST(sum(count(*)) OVER () AS BIGINT) AS n
        FROM cust GROUP BY band
    ),
    joined AS (
        SELECT c.*, b.c_b, b.n,
               CAST(sum(c.c_gb) OVER (PARTITION BY {qi}) AS BIGINT) AS n_g
        FROM cells c JOIN bands b USING (band)
    ),
    per AS (
        SELECT {qi}, max(n_g) AS n_g, max(n) AS n,
               sum(abs(CAST(c_gb AS HUGEINT) * CAST(n AS HUGEINT)
                       - CAST(c_b AS HUGEINT) * CAST(n_g AS HUGEINT)))
                   AS num_obs,
               CAST(sum(c_b) AS BIGINT) AS cb_obs
        FROM joined GROUP BY {qi}
    )
    SELECT {qi}, CAST(n_g AS BIGINT) AS n_g,
           round(CAST(num_obs + CAST(n_g AS HUGEINT)
                      * (CAST(n AS HUGEINT) - CAST(cb_obs AS HUGEINT))
                      AS DOUBLE)
                 / (2.0 * CAST(n AS DOUBLE) * CAST(n_g AS DOUBLE)), 6)
               AS tvd_r6,
           CAST(CAST(num_obs + CAST(n_g AS HUGEINT)
                     * (CAST(n AS HUGEINT) - CAST(cb_obs AS HUGEINT))
                     AS DOUBLE)
                / (2.0 * CAST(n AS DOUBLE) * CAST(n_g AS DOUBLE))
                > {t_max!r} AS INT) AS t_violated
    FROM per
    """


# ---------------------------------------------------------------------------
# delete-one-source jackknife of the global mean
# ---------------------------------------------------------------------------


def jackknife_source_mean(t: dict[str, DataFrame]) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of the global mean
    document length (Tukey 1958, the grouped form): how much does the
    corpus-wide mean move if any single source vanishes? The
    complement of ``bootstrap_mean_ci`` — resampling over SOURCES
    (cluster-level uncertainty) instead of rows, which is the error
    that actually matters when corpora arrive source-by-source.

    Exactness: each leave-one-out mean θ_i = (S−s_i)/(N−n_i) divides
    exact integers once, is nano-rounded, and all later sums run over
    the nano integers (decimal(38,0)/HUGEINT for the squared
    deviations — a 1e9-scaled deviation squares past int64); the
    classic (g−1)/g variance factor multiplies once at the end.

    Scale shape: one groupBy collapses the corpus to the |sources|-row
    (n_i, s_i) relation; everything after runs on that metadata.
    Output: one row.
    """
    d = t["documents"]
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum("n_chars").cast("long").alias("s_i"),
    )
    w_all = Window.partitionBy()
    loo = per.select(
        "source",
        F.sum("n_i").over(w_all).cast("long").alias("n"),
        F.sum("s_i").over(w_all).cast("long").alias("s"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("g"),
        "n_i",
        "s_i",
    ).select(
        "n",
        "s",
        "g",
        F.floor(
            (F.col("s") - F.col("s_i")).cast("double")
            / (F.col("n") - F.col("n_i")).cast("double")
            * 1e9
            + F.lit(0.5)
        )
        .cast("long")
        .alias("theta_nano"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = loo.groupBy().agg(
        F.max("n").alias("n"),
        F.max("s").alias("s"),
        F.max("g").cast("long").alias("g"),
        F.sum("theta_nano").cast("long").alias("sum_t"),
        F.sum(dec(F.col("theta_nano")) * dec(F.col("theta_nano"))).alias(
            "sum_t2"
        ),
    )
    g = F.col("g").cast("double")
    # sum (t_i - tbar)^2 = sum t^2 - (sum t)^2 / g, in nano^2 units
    ss_dev = F.col("sum_t2").cast("double") - (
        F.col("sum_t").cast("double") * F.col("sum_t").cast("double") / g
    )
    var_jack = (g - 1.0) / g * ss_dev / 1e18
    return agg.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("g").cast("long").alias("n_sources"),
        F.round(
            F.col("s").cast("double") / F.col("n").cast("double"), 6
        ).alias("mean_r6"),
        F.round(F.sqrt(F.greatest(var_jack, F.lit(0.0))), 6).alias(
            "se_jack_r6"
        ),
    )


def jackknife_source_mean_sql() -> str:
    """Twin of jackknife_source_mean: identical nano θ lattice."""
    return """
    WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(n_chars) AS BIGINT) AS s_i
        FROM documents GROUP BY 1
    ),
    loo AS (
        SELECT CAST(sum(n_i) OVER () AS BIGINT) AS n,
               CAST(sum(s_i) OVER () AS BIGINT) AS s,
               CAST(count(*) OVER () AS BIGINT) AS g,
               CAST(floor(
                   CAST(sum(s_i) OVER () - s_i AS DOUBLE)
                   / CAST(sum(n_i) OVER () - n_i AS DOUBLE)
                   * 1e9 + 0.5) AS BIGINT) AS theta_nano
        FROM per
    ),
    agg AS (
        SELECT max(n) AS n, max(s) AS s, max(g) AS g,
               CAST(sum(theta_nano) AS BIGINT) AS sum_t,
               sum(CAST(theta_nano AS HUGEINT)
                   * CAST(theta_nano AS HUGEINT)) AS sum_t2
        FROM loo
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(g AS BIGINT) AS n_sources,
           round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_r6,
           round(sqrt(greatest(
               (CAST(g AS DOUBLE) - 1.0) / CAST(g AS DOUBLE)
               * (CAST(sum_t2 AS DOUBLE)
                  - CAST(sum_t AS DOUBLE) * CAST(sum_t AS DOUBLE)
                    / CAST(g AS DOUBLE))
               / 1e18, 0.0)), 6) AS se_jack_r6
    FROM agg
    """


# ---------------------------------------------------------------------------
# differentially-private release counts (seeded discrete Laplace)
# ---------------------------------------------------------------------------

import math as _m3

DP_EPS = 1.0  # epsilon (sensitivity 1: one document moves one cell)
DP_K = 30  # noise truncation bound
DP_SEED = (614_889_287, 179_424_673, 2_971_215_073 % 1_000_000_007, 87_178_291)
# Inverse-CDF thresholds of the ±DP_K-truncated two-sided geometric
# (discrete Laplace) with alpha = e^-eps, precomputed ONCE in Python as
# exact integers on the [0, P1) lattice and embedded as literals in BOTH
# engines — the same shared-threshold-table technique as the Poisson
# bootstrap (BOOT_THRESH): noise = -K + #{ thresholds <= u }.
_DP_ALPHA = _m3.exp(-DP_EPS)
_dp_w = [_DP_ALPHA ** abs(k) for k in range(-DP_K, DP_K + 1)]
_dp_tot = sum(_dp_w)
_dp_cum = []
_acc = 0.0
for _w in _dp_w[:-1]:
    _acc += _w
    _dp_cum.append(_acc / _dp_tot)
DP_THRESH = [int(c * 1_000_000_007) for c in _dp_cum]


def dp_noisy_counts(t: dict[str, DataFrame]) -> DataFrame:
    """ε-differentially-private release of the (lang, source) document
    counts: each cell gets two-sided-geometric (discrete Laplace)
    noise with parameter e^(−ε), the exact mechanism of Ghosh-
    Roughgarden-Sundararajan 2009, truncated at ±``DP_K`` (tail mass
    < 1e-13 at ε=1) and clamped at 0. The release step a data-clearing
    pipeline runs before publishing corpus composition externally.

    Determinism (and hence the cross-engine oracle): the noise draw
    for a cell is the 3-round multiply-mod/xor-shift mix of the
    cell's rank in the sorted (lang, source) list — NOT of its count —
    pushed through the shared integer threshold table, so both engines
    walk the identical lattice with zero float arithmetic at query
    time. (A production release would rotate ``DP_SEED`` per release
    and drop the true counts; the mechanism is the operator.)

    Scale shape: one groupBy to the |lang|×|source| cell relation;
    ranking and noise run on that metadata. Output: one row per cell.
    """
    from .sketches import _hll_mix_spark

    cells = (
        t["documents"]
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    gid = F.row_number().over(Window.orderBy("lang", "source")).cast("long")
    u = _hll_mix_spark(gid, DP_SEED)
    thr = F.array(*[F.lit(x) for x in DP_THRESH])
    noise = (
        F.aggregate(
            thr,
            F.lit(0),
            lambda acc, x: acc + (u >= x).cast("int"),
        )
        - F.lit(DP_K)
    )
    return cells.select(
        "lang",
        "source",
        F.greatest(F.col("c") + noise.cast("long"), F.lit(0))
        .cast("long")
        .alias("n_dp"),
    )


def dp_noisy_counts_sql() -> str:
    """Twin of dp_noisy_counts: identical mix + threshold walk."""
    from .sketches import _hll_mix_sql

    thr = ", ".join(str(x) for x in DP_THRESH)
    u = _hll_mix_sql("gid", DP_SEED)
    return f"""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS c
        FROM documents GROUP BY 1, 2
    ),
    ranked AS (
        SELECT lang, source, c,
               CAST(row_number() OVER (ORDER BY lang, source) AS BIGINT)
                   AS gid
        FROM cells
    ),
    noised AS (
        SELECT lang, source, c,
               CAST(len(list_filter([{thr}], x -> x <= {u}))
                    AS BIGINT) - {DP_K} AS noise
        FROM ranked
    )
    SELECT lang, source,
           greatest(c + noise, 0) AS n_dp
    FROM noised
    """


# ---------------------------------------------------------------------------
# Spearman rank correlations over lineitem measures
# ---------------------------------------------------------------------------

_SPEAR_MEASURES = (
    ("qty", "CAST(floor(l_quantity + 0.5) AS BIGINT)"),
    ("price_c", "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"),
    ("disc_pct", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"),
)


def spearman_lineitem(t: dict[str, DataFrame]) -> DataFrame:
    """Spearman rank correlations between the lineitem measures — the
    outlier-robust, monotone-relationship complement of the Pearson
    screen (``lineitem_correlations``): a single blowout price cannot
    move a rank correlation. Uses textbook MIDRANKS for ties.

    Exactness: a row's midrank needs only its value's tie-group count
    and the count of smaller values, so 2·midrank = 2·cum_cnt +
    cnt + 1 is an exact integer from the per-VALUE inventory — no
    global row sort anywhere. Spearman ρ is then Pearson over the
    integer 2·midranks: all sufficient statistics are exact
    decimal(38,0)/HUGEINT sums, one double formula at the end. (The
    ×2 scaling cancels in ρ.)

    Scale shape: one inventory groupBy per measure (value-domain
    sized: 50 quantities, 11 discounts; price ~row-count in the worst
    case) whose exclusive prefix count is ``distrank.with_global_order``
    over the values (no unpartitioned window), equi-joined back on its
    value; one final aggregate. Output: one row per pair.
    """
    from .distrank import with_global_order

    li = t["lineitem"].selectExpr(
        *[f"{expr} AS {name}" for name, expr in _SPEAR_MEASURES]
    )
    names = [n for n, _ in _SPEAR_MEASURES]
    out = li
    for m in names:
        inv = li.groupBy(m).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        ranked, _n, _tot = with_global_order(inv, [m], weights=["cnt"])
        inv2 = ranked.select(
            m,
            (2 * F.col("cum_cnt") + F.col("cnt") + 1)
            .cast("long")
            .alias(f"mr2_{m}"),
        )
        out = out.join(inv2, m)
    dec = lambda c: c.cast("decimal(38,0)")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for m in names:
        aggs.append(F.sum(f"mr2_{m}").cast("long").alias(f"s_{m}"))
        aggs.append(
            F.sum(dec(F.col(f"mr2_{m}")) * dec(F.col(f"mr2_{m}"))).alias(
                f"ss_{m}"
            )
        )
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(
                F.sum(dec(F.col(f"mr2_{a}")) * dec(F.col(f"mr2_{b}"))).alias(
                    f"sp_{a}_{b}"
                )
            )
    one = out.groupBy().agg(*aggs)
    sel = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            n = F.col("n").cast("double")
            sa = F.col(f"s_{a}").cast("double")
            sb = F.col(f"s_{b}").cast("double")
            num = n * F.col(f"sp_{a}_{b}").cast("double") - sa * sb
            da = n * F.col(f"ss_{a}").cast("double") - sa * sa
            db = n * F.col(f"ss_{b}").cast("double") - sb * sb
            sel.append(
                F.when(
                    (da > 0) & (db > 0),
                    F.round(num / F.sqrt(da * db), 6),
                ).alias(f"rho_{a}_{b}")
            )
    return one.select(F.col("n"), *sel)


def spearman_lineitem_sql() -> str:
    """Twin of spearman_lineitem: identical 2·midrank inventories."""
    names = [n for n, _ in _SPEAR_MEASURES]
    base = ",\n               ".join(
        f"{expr} AS {name}" for name, expr in _SPEAR_MEASURES
    )
    invs = ",\n    ".join(
        f"""inv_{m} AS (
        SELECT {m},
               CAST(2 * coalesce(sum(cnt) OVER (ORDER BY {m}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + cnt + 1 AS BIGINT) AS mr2_{m}
        FROM (SELECT {m}, CAST(count(*) AS BIGINT) AS cnt
              FROM li GROUP BY 1)
    )"""
        for m in names
    )
    joins = "\n        ".join(f"JOIN inv_{m} USING ({m})" for m in names)
    aggs = ["CAST(count(*) AS BIGINT) AS n"]
    for m in names:
        aggs.append(f"CAST(sum(mr2_{m}) AS BIGINT) AS s_{m}")
        aggs.append(
            f"sum(CAST(mr2_{m} AS HUGEINT) * CAST(mr2_{m} AS HUGEINT))"
            f" AS ss_{m}"
        )
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            aggs.append(
                f"sum(CAST(mr2_{a} AS HUGEINT) * CAST(mr2_{b} AS HUGEINT))"
                f" AS sp_{a}_{b}"
            )
    agg_sql = ",\n               ".join(aggs)
    sel = []
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            num = (
                f"CAST(n AS DOUBLE) * CAST(sp_{a}_{b} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{b} AS DOUBLE)"
            )
            da = (
                f"CAST(n AS DOUBLE) * CAST(ss_{a} AS DOUBLE)"
                f" - CAST(s_{a} AS DOUBLE) * CAST(s_{a} AS DOUBLE)"
            )
            db = (
                f"CAST(n AS DOUBLE) * CAST(ss_{b} AS DOUBLE)"
                f" - CAST(s_{b} AS DOUBLE) * CAST(s_{b} AS DOUBLE)"
            )
            sel.append(
                f"CASE WHEN ({da}) > 0 AND ({db}) > 0 THEN\n"
                f"               round(({num}) / sqrt(({da}) * ({db})), 6)"
                f" END AS rho_{a}_{b}"
            )
    sel_sql = ",\n           ".join(sel)
    return f"""
    WITH li AS (
        SELECT {base}
        FROM lineitem
    ),
    {invs},
    joined AS (
        SELECT * FROM li
        {joins}
    ),
    one AS (
        SELECT {agg_sql}
        FROM joined
    )
    SELECT n, {sel_sql}
    FROM one
    """


# ---------------------------------------------------------------------------
# grouped OLS: daily revenue trend per nation
# ---------------------------------------------------------------------------


def ols_trend_by_nation(t: dict[str, DataFrame]) -> DataFrame:
    """Per-nation OLS trend of daily order revenue — the grouped-model
    -fitting pattern (one tiny regression per group, thousands of
    groups, zero driver involvement) that generalizes the single-series
    ``events_value_trend_ols``: each nation's slope/intercept/r² comes
    from five exact integer moments, so fitting 10 or 10M groups is
    the same two-shuffle plan.

    Exactness: days are integers since a fixed epoch, revenue is exact
    cents; all five moments are exact decimal(38,0)/HUGEINT sums, and
    the slope/intercept/r² formulas run one shared double sequence,
    rounded (4/2/6). Zero-variance guards yield NULLs.

    Scale shape: orders ⋈ broadcast(customer→nation dim... itself a
    broadcast-sized join at any SF since nations are fixed) — the fact
    table shuffles once on the (nation, day) groupBy, then once on
    nation; output is |nations| rows.
    """
    o = t["orders"]
    dim = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("o_custkey"), "n_name")
    )
    daily = (
        o.join(F.broadcast(dim), "o_custkey")
        .groupBy(
            "n_name",
            F.datediff(
                F.date_trunc("day", "o_orderdate"), F.lit("1990-01-01")
            )
            .cast("long")
            .alias("d"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("rev")
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")
    per = daily.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("rev").cast("long").alias("sr"),
        F.sum(dec(F.col("d")) * dec(F.col("rev"))).alias("sdr"),
        F.sum(dec(F.col("d")) * dec(F.col("d"))).alias("sdd"),
        F.sum(dec(F.col("rev")) * dec(F.col("rev"))).alias("srr"),
    )
    n = F.col("n").cast("double")
    sd = F.col("sd").cast("double")
    sr = F.col("sr").cast("double")
    sdr = F.col("sdr").cast("double")
    sdd = F.col("sdd").cast("double")
    srr = F.col("srr").cast("double")
    sxx = n * sdd - sd * sd
    sxy = n * sdr - sd * sr
    syy = n * srr - sr * sr
    slope = sxy / sxx
    intercept = (sr - slope * sd) / n
    return per.select(
        F.col("n_name").alias("nation"),
        F.col("n").cast("long").alias("n_days"),
        F.when(sxx > 0, F.round(slope, 4)).alias("slope_cents_per_day_r4"),
        F.when(sxx > 0, F.round(intercept / 100.0, 2)).alias(
            "intercept_usd_r2"
        ),
        F.when(
            (sxx > 0) & (syy > 0),
            F.round(sxy * sxy / (sxx * syy), 6),
        ).alias("r2_r6"),
    ).orderBy("nation")


def ols_trend_by_nation_sql() -> str:
    """Twin of ols_trend_by_nation: identical integer moments."""
    return """
    WITH daily AS (
        SELECT n_name,
               CAST(datediff('day', TIMESTAMP '1990-01-01',
                             date_trunc('day', o_orderdate)) AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    per AS (
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(rev) AS BIGINT) AS sr,
               sum(CAST(d AS HUGEINT) * CAST(rev AS HUGEINT)) AS sdr,
               sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd,
               sum(CAST(rev AS HUGEINT) * CAST(rev AS HUGEINT)) AS srr
        FROM daily GROUP BY 1
    ),
    m AS (
        SELECT n_name, n,
               CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
               - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) AS sxx,
               CAST(n AS DOUBLE) * CAST(sdr AS DOUBLE)
               - CAST(sd AS DOUBLE) * CAST(sr AS DOUBLE) AS sxy,
               CAST(n AS DOUBLE) * CAST(srr AS DOUBLE)
               - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE) AS syy,
               CAST(sd AS DOUBLE) AS sd_d, CAST(sr AS DOUBLE) AS sr_d,
               CAST(n AS DOUBLE) AS n_d
        FROM per
    )
    SELECT n_name AS nation, CAST(n AS BIGINT) AS n_days,
           CASE WHEN sxx > 0 THEN round(sxy / sxx, 4) END
               AS slope_cents_per_day_r4,
           CASE WHEN sxx > 0
                THEN round((sr_d - (sxy / sxx) * sd_d) / n_d / 100.0, 2)
           END AS intercept_usd_r2,
           CASE WHEN sxx > 0 AND syy > 0
                THEN round(sxy * sxy / (sxx * syy), 6)
           END AS r2_r6
    FROM m
    ORDER BY nation
    """


# ---------------------------------------------------------------------------
# functional-dependency audit
# ---------------------------------------------------------------------------

# (table, lhs columns, rhs column) — the schema's implied invariants:
# key→attribute within dimensions, plus the composite lineitem key
FD_RULES = (
    ("nation", ("n_nationkey",), "n_name"),
    ("customer", ("c_custkey",), "c_name"),
    ("part", ("p_partkey",), "p_name"),
    ("orders", ("o_orderkey",), "o_custkey"),
    ("documents", ("doc_id",), "source"),
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
)


def functional_dependency_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Schema-invariant audit: for each declared functional dependency
    LHS→RHS, the number of LHS groups that map to MORE than one RHS
    value — the data-quality check that catches a corrupted dimension
    load or a key collision before a join silently fans out (the FD
    complement of ``pk_uniqueness``, which only checks key
    multiplicity, not attribute determinism).

    Exactness: group counts and distinct counts are exact integers.

    Scale shape: one groupBy per rule on its LHS (key-partitioned
    hash agg with partial combine) followed by a count-style
    aggregate; output is one fixed row per rule. The per-group
    distinct-RHS count never materializes a cross product.
    """
    outs = []
    for tbl, lhs, rhs in FD_RULES:
        grp = (
            t[tbl]
            .groupBy(*[F.col(c) for c in lhs])
            .agg(F.count_distinct(rhs).alias("n_rhs"))
        )
        outs.append(
            grp.agg(
                F.lit(tbl).alias("table_name"),
                F.lit("+".join(lhs)).alias("lhs"),
                F.lit(rhs).alias("rhs"),
                F.count(F.lit(1)).cast("long").alias("n_groups"),
                F.sum((F.col("n_rhs") > 1).cast("long"))
                .cast("long")
                .alias("n_violating"),
            )
        )
    rep = outs[0]
    for o in outs[1:]:
        rep = rep.unionByName(o)
    return rep.select(
        "table_name",
        "lhs",
        "rhs",
        "n_groups",
        "n_violating",
        (F.col("n_violating") == 0).cast("int").alias("fd_holds"),
    ).orderBy("table_name", "lhs")


def functional_dependency_audit_sql() -> str:
    """Twin of functional_dependency_audit: same per-rule aggregates."""
    arms = []
    for tbl, lhs, rhs in FD_RULES:
        lhs_sql = ", ".join(lhs)
        arms.append(
            f"""SELECT '{tbl}' AS table_name, '{"+".join(lhs)}' AS lhs,
               '{rhs}' AS rhs,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(sum(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_violating
        FROM (SELECT {lhs_sql}, count(DISTINCT {rhs}) AS n_rhs
              FROM {tbl} GROUP BY {lhs_sql})"""
        )
    body = "\n    UNION ALL ".join(arms)
    return f"""
    WITH rep AS (
        {body}
    )
    SELECT table_name, lhs, rhs, n_groups, n_violating,
           CAST(n_violating = 0 AS INT) AS fd_holds
    FROM rep
    ORDER BY table_name, lhs
    """


# ---------------------------------------------------------------------------
# one-way ANOVA + Bartlett homogeneity across sources
# ---------------------------------------------------------------------------


def anova_bartlett_sources(t: dict[str, DataFrame]) -> DataFrame:
    """One-way ANOVA of document length across ALL sources at once —
    the k-group generalization of ``welch_ttest_sources``'s pairwise
    screen: the F statistic answers "do the sources differ in scale AT
    ALL" before any pairwise hunt, eta² reports how much of the length
    variance source membership explains, and Bartlett's statistic
    tests the equal-variance assumption ANOVA itself leans on (when
    Bartlett is large, trust Welch pairs over this F).

    Exactness: each source collapses to exact integer (n, Σx, Σx²)
    with decimal(38,0) squares; every per-source double term (within-
    group SS, between-group SS, (n_i−1)·ln v_i, 1/(n_i−1)) is
    nano-rounded to a long BEFORE the cross-source sum, so the fold
    is order-invariant and both engines land on identical doubles.
    Sources need n_i ≥ 2 to contribute; Bartlett is NULL if any
    contributing source has zero variance (ln 0) or k < 2.

    Scale shape: one groupBy collapses the corpus to the |sources|-row
    statistic relation; all later algebra runs over that metadata via
    an empty-frame window (same shape as jackknife_source_mean).
    Output: one row.
    """
    d = t["documents"]
    dec = lambda c: c.cast("decimal(38,0)")
    per = (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum("n_chars").cast("long").alias("s_i"),
            F.sum(dec(F.col("n_chars")) * dec(F.col("n_chars"))).alias(
                "ss_i"
            ),
        )
        .filter(F.col("n_i") >= 2)
    )
    w_all = Window.partitionBy()
    nano = lambda x: F.floor(x * 1e9 + F.lit(0.5)).cast("long")
    n_i = F.col("n_i").cast("double")
    s_i = F.col("s_i").cast("double")
    ss_i = F.col("ss_i").cast("double")
    big_n = F.col("N").cast("double")
    big_s = F.col("S").cast("double")
    ssw_i = ss_i - s_i * s_i / n_i
    v_i = ssw_i / (n_i - 1.0)
    ssb_i = n_i * (s_i / n_i - big_s / big_n) * (s_i / n_i - big_s / big_n)
    terms = per.select(
        F.sum("n_i").over(w_all).cast("long").alias("N"),
        F.sum("s_i").over(w_all).cast("long").alias("S"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("k"),
        "n_i",
        "s_i",
        "ss_i",
    ).select(
        "N",
        "S",
        "k",
        nano(ssw_i).alias("ssw_nano"),
        nano(ssb_i).alias("ssb_nano"),
        nano((n_i - 1.0) * F.log(v_i)).alias("nlnv_nano"),
        nano(F.lit(1.0) / (n_i - 1.0)).alias("invdf_nano"),
        (ssw_i <= 0.0).cast("long").alias("degenerate"),
    )
    agg = terms.groupBy().agg(
        F.max("N").alias("N"),
        F.max("k").cast("long").alias("k"),
        F.sum("ssw_nano").cast("long").alias("ssw_n"),
        F.sum("ssb_nano").cast("long").alias("ssb_n"),
        F.sum("nlnv_nano").cast("long").alias("nlnv_n"),
        F.sum("invdf_nano").cast("long").alias("invdf_n"),
        F.sum("degenerate").cast("long").alias("n_degen"),
    )
    k = F.col("k").cast("double")
    nn = F.col("N").cast("double")
    ssw = F.col("ssw_n").cast("double") / 1e9
    ssb = F.col("ssb_n").cast("double") / 1e9
    df1 = k - 1.0
    df2 = nn - k
    fstat = (ssb / df1) / (ssw / df2)
    eta2 = ssb / (ssb + ssw)
    sp2 = ssw / df2
    c_corr = 1.0 + (
        F.col("invdf_n").cast("double") / 1e9 - 1.0 / df2
    ) / (3.0 * df1)
    bartlett = (
        df2 * F.log(sp2) - F.col("nlnv_n").cast("double") / 1e9
    ) / c_corr
    ok = (F.col("k") >= 2) & (F.col("n_degen") == 0)
    return agg.select(
        F.col("N").cast("long").alias("n_docs"),
        F.col("k").cast("long").alias("k_sources"),
        F.when(F.col("k") >= 2, F.round(fstat, 6)).alias("f_r6"),
        df1.cast("long").alias("df_between"),
        df2.cast("long").alias("df_within"),
        F.when(F.col("k") >= 2, F.round(eta2, 6)).alias("eta2_r6"),
        F.when(ok, F.round(bartlett, 6)).alias("bartlett_chi2_r6"),
        F.col("n_degen").cast("long").alias("n_zero_var_sources"),
    )


def anova_bartlett_sources_sql() -> str:
    """Twin of anova_bartlett_sources: identical nano-term lattice."""
    return """
    WITH per AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(n_chars) AS BIGINT) AS s_i,
               sum(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT))
                   AS ss_i
        FROM documents
        GROUP BY 1
        HAVING count(*) >= 2
    ),
    tot AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS N,
               CAST(sum(s_i) AS BIGINT) AS S,
               CAST(count(*) AS BIGINT) AS k
        FROM per
    ),
    terms AS (
        SELECT t.N, t.k,
               CAST(floor((CAST(ss_i AS DOUBLE)
                           - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                             / CAST(n_i AS DOUBLE)) * 1e9 + 0.5)
                    AS BIGINT) AS ssw_nano,
               CAST(floor(CAST(n_i AS DOUBLE)
                          * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
                             - CAST(t.S AS DOUBLE) / CAST(t.N AS DOUBLE))
                          * (CAST(s_i AS DOUBLE) / CAST(n_i AS DOUBLE)
                             - CAST(t.S AS DOUBLE) / CAST(t.N AS DOUBLE))
                          * 1e9 + 0.5) AS BIGINT) AS ssb_nano,
               CAST(floor((CAST(n_i AS DOUBLE) - 1.0)
                          * ln((CAST(ss_i AS DOUBLE)
                                - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                                  / CAST(n_i AS DOUBLE))
                               / (CAST(n_i AS DOUBLE) - 1.0))
                          * 1e9 + 0.5) AS BIGINT) AS nlnv_nano,
               CAST(floor(1.0 / (CAST(n_i AS DOUBLE) - 1.0) * 1e9 + 0.5)
                    AS BIGINT) AS invdf_nano,
               CAST(CAST(ss_i AS DOUBLE)
                    - CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
                      / CAST(n_i AS DOUBLE) <= 0.0 AS BIGINT) AS degenerate
        FROM per, tot t
    ),
    agg AS (
        SELECT max(N) AS N, CAST(max(k) AS BIGINT) AS k,
               CAST(sum(ssw_nano) AS BIGINT) AS ssw_n,
               CAST(sum(ssb_nano) AS BIGINT) AS ssb_n,
               CAST(sum(nlnv_nano) AS BIGINT) AS nlnv_n,
               CAST(sum(invdf_nano) AS BIGINT) AS invdf_n,
               CAST(sum(degenerate) AS BIGINT) AS n_degen
        FROM terms
    )
    SELECT CAST(N AS BIGINT) AS n_docs,
           CAST(k AS BIGINT) AS k_sources,
           CASE WHEN k >= 2 THEN round(
               (CAST(ssb_n AS DOUBLE) / 1e9 / (CAST(k AS DOUBLE) - 1.0))
               / (CAST(ssw_n AS DOUBLE) / 1e9
                  / (CAST(N AS DOUBLE) - CAST(k AS DOUBLE))), 6)
           END AS f_r6,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(N - k AS BIGINT) AS df_within,
           CASE WHEN k >= 2 THEN round(
               CAST(ssb_n AS DOUBLE) / 1e9
               / (CAST(ssb_n AS DOUBLE) / 1e9
                  + CAST(ssw_n AS DOUBLE) / 1e9), 6)
           END AS eta2_r6,
           CASE WHEN k >= 2 AND n_degen = 0 THEN round(
               ((CAST(N AS DOUBLE) - CAST(k AS DOUBLE))
                * ln(CAST(ssw_n AS DOUBLE) / 1e9
                     / (CAST(N AS DOUBLE) - CAST(k AS DOUBLE)))
                - CAST(nlnv_n AS DOUBLE) / 1e9)
               / (1.0 + (CAST(invdf_n AS DOUBLE) / 1e9
                         - 1.0 / (CAST(N AS DOUBLE) - CAST(k AS DOUBLE)))
                        / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
           END AS bartlett_chi2_r6,
           CAST(n_degen AS BIGINT) AS n_zero_var_sources
    FROM agg
    """


# ---------------------------------------------------------------------------
# Kendall tau-b rank concordance between daily revenue and order count
# ---------------------------------------------------------------------------


def kendall_tau_daily(t: dict[str, DataFrame]) -> DataFrame:
    """Kendall tau-b between daily order COUNT and daily revenue — the
    concordance complement of ``spearman_lineitem``: tau counts
    direction agreements pair-by-pair instead of correlating midranks,
    so it is the statistic of record when the series are short, tied,
    or outlier-ridden (each pair contributes ±1 regardless of
    magnitude). Tie-corrected (tau-b) with both tie terms reported.

    Exactness: days collapse to exact integers (order count, revenue
    cents); concordant / discordant / tie classifications are integer
    comparisons over day pairs; tau divides once at the end (the only
    double op is one sqrt of an exact integer product —
    decimal(38,0)/HUGEINT, since n₀ terms square past int64 at ~10⁵
    days).

    Scale shape: the fact table collapses to the |days|-row daily
    relation in one groupBy; the pair stage is the calendar² self
    theta-join over THAT metadata (data-size invariant — same
    allowlisted class as theil_sen_trend); one final 1-row aggregate.
    Output: one row.
    """
    o = t["orders"]
    daily = o.groupBy(F.col("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("x"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("y"),
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d"))
    dx = F.col("b.x") - F.col("a.x")
    dy = F.col("b.y") - F.col("a.y")
    cls = pairs.select(
        ((dx > 0) & (dy > 0) | (dx < 0) & (dy < 0))
        .cast("long")
        .alias("conc"),
        ((dx > 0) & (dy < 0) | (dx < 0) & (dy > 0))
        .cast("long")
        .alias("disc"),
        (dx == 0).cast("long").alias("tie_x"),
        (dy == 0).cast("long").alias("tie_y"),
        ((dx == 0) & (dy == 0)).cast("long").alias("tie_xy"),
    )
    agg = cls.groupBy().agg(
        F.sum("conc").cast("long").alias("c"),
        F.sum("disc").cast("long").alias("d"),
        F.sum("tie_x").cast("long").alias("tx"),
        F.sum("tie_y").cast("long").alias("ty"),
        F.sum("tie_xy").cast("long").alias("txy"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    den = (dec(F.col("n0")) - dec(F.col("tx"))) * (
        dec(F.col("n0")) - dec(F.col("ty"))
    )
    tau = F.when(
        den > 0,
        (F.col("c") - F.col("d")).cast("double")
        / F.sqrt(den.cast("double")),
    )
    return agg.select(
        F.col("n0").alias("n_pairs"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("tx").alias("ties_count"),
        F.col("ty").alias("ties_revenue"),
        F.col("txy").alias("ties_both"),
        F.round(tau, 6).alias("tau_b_r6"),
    )


def kendall_tau_daily_sql() -> str:
    """Twin of kendall_tau_daily: identical pair classification and
    HUGEINT tie-corrected denominator."""
    return """
    WITH daily AS (
        SELECT o_orderdate AS d,
               CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    cls AS (
        SELECT CAST(CASE WHEN (b.x - a.x > 0 AND b.y - a.y > 0)
                           OR (b.x - a.x < 0 AND b.y - a.y < 0)
                    THEN 1 ELSE 0 END AS BIGINT) AS conc,
               CAST(CASE WHEN (b.x - a.x > 0 AND b.y - a.y < 0)
                           OR (b.x - a.x < 0 AND b.y - a.y > 0)
                    THEN 1 ELSE 0 END AS BIGINT) AS disc,
               CAST(CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS BIGINT)
                   AS tie_x,
               CAST(CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS BIGINT)
                   AS tie_y,
               CAST(CASE WHEN b.x = a.x AND b.y = a.y THEN 1 ELSE 0 END
                    AS BIGINT) AS tie_xy
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    agg AS (
        SELECT CAST(sum(conc) AS BIGINT) AS c,
               CAST(sum(disc) AS BIGINT) AS d,
               CAST(sum(tie_x) AS BIGINT) AS tx,
               CAST(sum(tie_y) AS BIGINT) AS ty,
               CAST(sum(tie_xy) AS BIGINT) AS txy,
               CAST(count(*) AS BIGINT) AS n0
        FROM cls
    )
    SELECT n0 AS n_pairs, c AS concordant, d AS discordant,
           tx AS ties_count, ty AS ties_revenue, txy AS ties_both,
           CASE WHEN (CAST(n0 AS HUGEINT) - tx)
                     * (CAST(n0 AS HUGEINT) - ty) > 0
                THEN round(CAST(c - d AS DOUBLE)
                           / sqrt(CAST((CAST(n0 AS HUGEINT) - tx)
                                       * (CAST(n0 AS HUGEINT) - ty)
                                       AS DOUBLE)), 6)
           END AS tau_b_r6
    FROM agg
    """


# ---------------------------------------------------------------------------
# distributed logistic regression (fixed IRLS/Newton steps)
# ---------------------------------------------------------------------------

IRLS_STEPS = 3
IRLS_X_SCALE = 1000.0  # n_chars / 1000 keeps the Hessian well-conditioned


def _logistic_newton_beta(rows: DataFrame, target: str) -> DataFrame:
    """One-row (b0, b1): the 1-D logistic fit of the 0/1 column
    ``target`` on the double column ``x`` of ``rows``, by ``IRLS_STEPS``
    unrolled Newton steps from β = (0, 0). Each step is one map over
    the rows ⋈ the broadcast one-row β (gradient/Hessian terms
    nano-rounded to integers), one 5-cell decimal aggregate and a
    closed-form 2×2 solve on the 1-row result."""
    dec = lambda c: c.cast("decimal(38,0)")
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    y = F.col(target).cast("double")
    beta = None
    for _ in range(IRLS_STEPS):
        if beta is not None:
            cur = rows.crossJoin(F.broadcast(beta))
            b0, b1 = F.col("b0"), F.col("b1")
        else:
            cur = rows
            b0, b1 = F.lit(0.0), F.lit(0.0)
        eta = b0 + b1 * F.col("x")
        mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = mu * (F.lit(1.0) - mu)
        terms = cur.select(
            nano(y - mu).alias("g0"),
            nano((y - mu) * F.col("x")).alias("g1"),
            nano(w).alias("h00"),
            nano(w * F.col("x")).alias("h01"),
            nano(w * F.col("x") * F.col("x")).alias("h11"),
        )
        agg = terms.groupBy().agg(
            F.sum(dec(F.col("g0"))).alias("sg0"),
            F.sum(dec(F.col("g1"))).alias("sg1"),
            F.sum(dec(F.col("h00"))).alias("sh00"),
            F.sum(dec(F.col("h01"))).alias("sh01"),
            F.sum(dec(F.col("h11"))).alias("sh11"),
        )
        g0 = F.col("sg0").cast("double") / 1e9
        g1 = F.col("sg1").cast("double") / 1e9
        h00 = F.col("sh00").cast("double") / 1e9
        h01 = F.col("sh01").cast("double") / 1e9
        h11 = F.col("sh11").cast("double") / 1e9
        det = h00 * h11 - h01 * h01
        nb0 = (h11 * g0 - h01 * g1) / det
        nb1 = (h00 * g1 - h01 * g0) / det
        if beta is not None:
            agg = agg.crossJoin(F.broadcast(beta))
            beta = agg.select(
                (F.col("b0") + nb0).alias("b0"),
                (F.col("b1") + nb1).alias("b1"),
            )
        else:
            beta = agg.select(nb0.alias("b0"), nb1.alias("b1"))
    return beta


def _logistic_newton_sql(target: str) -> str:
    """Twin of :func:`_logistic_newton_beta`: the CTE chain
    beta0 .. beta{IRLS_STEPS} over a ``rows(target, x)`` CTE, with the
    identical nano-term lattice and 2×2 closed-form update."""
    mu = "1.0/(1.0 + exp(-(b.b0 + b.b1 * x)))"
    w = f"({mu}) * (1.0 - {mu})"
    nano = lambda e: f"CAST(floor({e} * 1e9 + 0.5) AS BIGINT)"
    d = lambda c: f"(CAST({c} AS DOUBLE)/1e9)"
    det = f"({d('sh00')} * {d('sh11')} - {d('sh01')} * {d('sh01')})"
    steps = ["beta0 AS (SELECT 0.0 AS b0, 0.0 AS b1)"]
    for i in range(IRLS_STEPS):
        steps.append(f"""terms{i} AS (
        SELECT {nano(f"({target} - {mu})")} AS g0,
               {nano(f"({target} - {mu}) * x")} AS g1,
               {nano(w)} AS h00,
               {nano(f"{w} * x")} AS h01,
               {nano(f"{w} * x * x")} AS h11
        FROM rows, beta{i} b
    ),
    agg{i} AS (
        SELECT sum(CAST(g0 AS HUGEINT)) AS sg0,
               sum(CAST(g1 AS HUGEINT)) AS sg1,
               sum(CAST(h00 AS HUGEINT)) AS sh00,
               sum(CAST(h01 AS HUGEINT)) AS sh01,
               sum(CAST(h11 AS HUGEINT)) AS sh11
        FROM terms{i}
    ),
    beta{i + 1} AS (
        SELECT b.b0 + ({d('sh11')} * {d('sg0')} - {d('sh01')} * {d('sg1')})
                      / {det} AS b0,
               b.b1 + ({d('sh00')} * {d('sg1')} - {d('sh01')} * {d('sg0')})
                      / {det} AS b1
        FROM agg{i}, beta{i} b
    )""")
    return ",\n    ".join(steps)


def logistic_irls_lang(t: dict[str, DataFrame]) -> DataFrame:
    """Logistic regression of P(lang = 'en') on document length,
    trained INSIDE the engine by ``IRLS_STEPS`` unrolled Newton steps —
    distributed ML training as pure relational algebra: each step is
    one map over the rows (gradient/Hessian terms from the current β)
    + one 5-cell aggregate + a closed-form 2×2 solve on the 1-row
    result. The logistic complement of ``ols_trend_by_nation`` (linear
    closed form) and ``gini_split_stump`` (axis split): same feature,
    calibrated probabilities out.

    Determinism/exactness: β₀ = (0,0) so every run is the same
    computation; per-row gradient/Hessian/log-likelihood terms are
    nano-rounded to integers BEFORE the sums (order-invariant;
    decimal(38,0)/HUGEINT accumulators so 10¹² rows × 1e9 nanos can't
    wrap); each β update is one shared double sequence over those
    integer sums. The only transcendental per row is exp(−|η|)-style
    sigmoid/ln — nano rounding absorbs libm ulp differences.

    Scale shape per step: rows ⋈ broadcast ONE-ROW β (allowlisted
    class) → narrow map → 5-integer aggregate. Nothing row-sized
    shuffles; the driver never sees data. Output: one row (fit +
    accuracy + mean log-likelihood).
    """
    d = t["documents"]
    rows = d.select(
        (F.col("lang") == "en").cast("long").alias("y"),
        (F.col("n_chars").cast("double") / F.lit(IRLS_X_SCALE)).alias("x"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    beta = _logistic_newton_beta(rows, "y")
    scored = rows.crossJoin(F.broadcast(beta))
    eta = F.col("b0") + F.col("b1") * F.col("x")
    mu = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    ll = F.col("y").cast("double") * F.log(mu) + (
        F.lit(1.0) - F.col("y").cast("double")
    ) * F.log(F.lit(1.0) - mu)
    fin = scored.select(
        "b0",
        "b1",
        F.col("y"),
        nano(ll).alias("ll_nano"),
        ((eta > 0).cast("long") == F.col("y")).cast("long").alias("hit"),
    ).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.min("b0").alias("b0"),
        F.min("b1").alias("b1"),
        F.sum(dec(F.col("ll_nano"))).alias("sll"),
        F.sum("hit").cast("long").alias("hits"),
    )
    return fin.select(
        "n_docs",
        "n_pos",
        F.round(F.col("b0"), 6).alias("beta0_r6"),
        F.round(F.col("b1"), 6).alias("beta1_r6"),
        F.round(
            F.col("sll").cast("double") / 1e9 / F.col("n_docs").cast("double"),
            6,
        ).alias("mean_loglik_r6"),
        F.expr("(hits * 10000L) div n_docs").cast("long").alias(
            "accuracy_bp"
        ),
    )


def logistic_irls_lang_sql() -> str:
    """Twin of logistic_irls_lang: beta0..betaN unrolled CTEs with the
    identical nano-term lattice and 2×2 closed-form update."""
    return f"""
    WITH rows AS (
        SELECT CAST(lang = 'en' AS BIGINT) AS y,
               CAST(n_chars AS DOUBLE) / {IRLS_X_SCALE!r} AS x
        FROM documents
    ),
    {_logistic_newton_sql("y")},
    scored AS (
        SELECT y,
               CAST(floor((y * ln(1.0/(1.0 + exp(-(b.b0 + b.b1 * x))))
                           + (1.0 - y)
                             * ln(1.0 - 1.0/(1.0 + exp(-(b.b0 + b.b1 * x)))))
                          * 1e9 + 0.5) AS BIGINT) AS ll_nano,
               CAST((CAST(b.b0 + b.b1 * x > 0 AS BIGINT)) = y AS BIGINT)
                   AS hit,
               b.b0 AS b0, b.b1 AS b1
        FROM rows, beta{IRLS_STEPS} b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(min(b0), 6) AS beta0_r6,
           round(min(b1), 6) AS beta1_r6,
           round(CAST(sum(CAST(ll_nano AS HUGEINT)) AS DOUBLE) / 1e9
                 / CAST(count(*) AS DOUBLE), 6) AS mean_loglik_r6,
           CAST((sum(hit) * 10000) // count(*) AS BIGINT) AS accuracy_bp
    FROM scored
    """


# ---------------------------------------------------------------------------
# Simpson's-paradox flip audit (global vs per-group trend signs)
# ---------------------------------------------------------------------------


def simpson_flip_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Simpson's-paradox screen over the revenue trend: does the
    GLOBAL daily-revenue slope point one way while some nations' own
    slopes point the other? A flipped group means any "revenue is
    growing" headline silently depends on the mix — the aggregation
    trap every grouped report should test for before shipping. Counts
    the nations whose OLS slope sign disagrees with the global one.

    Exactness: every sign is decided on the EXACT integer moment
    n·Σdr − Σd·Σr (decimal/HUGEINT) — no float ever picks a side;
    only the reported global slope divides doubles at the end.

    Scale shape: two shuffles — (nation, day) then nation — plus the
    global day series (calendar-bounded metadata) and a ONE-ROW
    global-moment broadcast (allowlisted class). Output: one row.
    """
    o = t["orders"]
    dim = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("o_custkey"), "n_name")
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    day = (
        F.datediff(F.date_trunc("day", "o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("d")
    )
    dec = lambda c: c.cast("decimal(38,0)")

    def moments(df, keys):
        daily = df.groupBy(*keys, day).agg(
            F.sum(cents).cast("long").alias("rev")
        )
        return daily.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("d").cast("long").alias("sd"),
            F.sum("rev").cast("long").alias("sr"),
            F.sum(dec(F.col("d")) * dec(F.col("rev"))).alias("sdr"),
            F.sum(dec(F.col("d")) * dec(F.col("d"))).alias("sdd"),
        )

    sxy = lambda: dec(F.col("n")) * F.col("sdr") - dec(F.col("sd")) * dec(
        F.col("sr")
    )
    sxx = lambda: dec(F.col("n")) * F.col("sdd") - dec(F.col("sd")) * dec(
        F.col("sd")
    )
    per = moments(o.join(F.broadcast(dim), "o_custkey"), ["n_name"]).select(
        "n_name", sxy().alias("g_sxy")
    )
    glob = moments(o, []).select(
        sxy().alias("sxy_g"),
        sxx().alias("sxx_g"),
        F.col("n").alias("n_days"),
    )
    joined = per.crossJoin(F.broadcast(glob))
    sign_n = F.signum(F.col("g_sxy").cast("double"))
    sign_g = F.signum(F.col("sxy_g").cast("double"))
    agg = joined.groupBy().agg(
        F.max("n_days").alias("n_days"),
        F.max("sxy_g").alias("sxy_g"),
        F.max("sxx_g").alias("sxx_g"),
        F.count(F.lit(1)).cast("long").alias("n_nations"),
        F.sum((sign_n > 0).cast("long")).cast("long").alias("n_up"),
        F.sum((sign_n < 0).cast("long")).cast("long").alias("n_down"),
        F.sum((sign_n == 0).cast("long")).cast("long").alias("n_flat"),
        F.sum((sign_n * sign_g < 0).cast("long"))
        .cast("long")
        .alias("n_flipped"),
    )
    g_slope = F.col("sxy_g").cast("double") / F.col("sxx_g").cast("double")
    return agg.select(
        F.col("n_days").cast("long").alias("n_days"),
        "n_nations",
        F.when(F.col("sxx_g") > 0, F.round(g_slope, 4)).alias(
            "global_slope_cents_per_day_r4"
        ),
        F.signum(F.col("sxy_g").cast("double"))
        .cast("int")
        .alias("global_trend_sign"),
        "n_up",
        "n_down",
        "n_flat",
        "n_flipped",
        (F.col("n_flipped") > 0).cast("int").alias("simpson_flag"),
    )


def simpson_flip_audit_sql() -> str:
    """Twin of simpson_flip_audit: identical exact-integer sign
    algebra."""
    return """
    WITH dim AS (
        SELECT c_custkey AS o_custkey, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    nat_daily AS (
        SELECT n_name,
               datediff('day', DATE '1990-01-01',
                        date_trunc('day', o_orderdate)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders JOIN dim USING (o_custkey)
        GROUP BY 1, 2
    ),
    per AS (
        SELECT n_name,
               CAST(count(*) AS HUGEINT) * sum(CAST(d AS HUGEINT) * rev)
               - CAST(sum(d) AS HUGEINT) * CAST(sum(rev) AS HUGEINT)
                   AS g_sxy
        FROM nat_daily GROUP BY 1
    ),
    g_daily AS (
        SELECT datediff('day', DATE '1990-01-01',
                        date_trunc('day', o_orderdate)) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    gm AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(count(*) AS HUGEINT) * sum(CAST(d AS HUGEINT) * rev)
               - CAST(sum(d) AS HUGEINT) * CAST(sum(rev) AS HUGEINT)
                   AS sxy_g,
               CAST(count(*) AS HUGEINT) * sum(CAST(d AS HUGEINT) * d)
               - CAST(sum(d) AS HUGEINT) * CAST(sum(d) AS HUGEINT)
                   AS sxx_g
        FROM g_daily
    )
    SELECT max(g.n_days) AS n_days,
           CAST(count(*) AS BIGINT) AS n_nations,
           CASE WHEN max(g.sxx_g) > 0
                THEN round(CAST(max(g.sxy_g) AS DOUBLE)
                           / CAST(max(g.sxx_g) AS DOUBLE), 4)
           END AS global_slope_cents_per_day_r4,
           CAST(sign(CAST(max(g.sxy_g) AS DOUBLE)) AS INT)
               AS global_trend_sign,
           CAST(sum(CASE WHEN p.g_sxy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
           CAST(sum(CASE WHEN p.g_sxy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_down,
           CAST(sum(CASE WHEN p.g_sxy = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flat,
           CAST(sum(CASE WHEN (p.g_sxy > 0 AND g.sxy_g < 0)
                           OR (p.g_sxy < 0 AND g.sxy_g > 0)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped,
           CAST(sum(CASE WHEN (p.g_sxy > 0 AND g.sxy_g < 0)
                           OR (p.g_sxy < 0 AND g.sxy_g > 0)
                    THEN 1 ELSE 0 END) > 0 AS INT) AS simpson_flag
    FROM per p CROSS JOIN gm g
    """


# ---------------------------------------------------------------------------
# Hill estimator of the value distribution's tail index
# ---------------------------------------------------------------------------

HILL_KS = (100, 500, 1000)  # mini Hill plot: estimate at several k


def hill_tail_index(t: dict[str, DataFrame]) -> DataFrame:
    """Hill (1975) estimator of the event-value tail index at several
    k — the heavy-tail detector behind skew planning: α̂ ≈ 1–2 means
    the biggest rows dominate every sum (salting and per-key caps are
    mandatory); α̂ > 3 means means/variances are tame. Reporting the
    estimate at several k IS the standard "Hill plot" stability check
    (a flat sequence = trustworthy tail index).

    α̂(k) = [ (1/k) Σ_{i≤k} (ln x₍ᵢ₎ − ln x₍ₖ₊₁₎) ]⁻¹ over the top
    k+1 order statistics of value (in exact t4 integer units).

    Exactness: only the VALUES of the top-(kmax+1) multiset matter
    (ties among equal values are rank-ambiguous but value-identical);
    each ln x₍ᵢ₎ is nano-rounded BEFORE the prefix sum, so both
    engines fold identical integers; one division + reciprocal per k.

    Scale shape: ONE global top-(kmax+1) (TakeOrderedAndProject —
    per-partition heaps, never a full sort) feeding a 1001-row window
    relation; everything after is metadata. Output: one row per k.
    """
    kmax = max(HILL_KS)
    ev = t["events"]
    top = (
        ev.select(
            F.floor(F.col("value") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("t4")
        )
        .filter(F.col("t4") > 0)
        .orderBy(F.desc("t4"))
        .limit(kmax + 1)
    )
    w_ord = Window.orderBy(F.desc("t4"))
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    ranked = top.select(
        "t4",
        F.row_number().over(w_ord).alias("rn"),
        nano(F.log(F.col("t4").cast("double"))).alias("ln_nano"),
    )
    cum = ranked.select(
        "rn",
        "t4",
        F.sum("ln_nano")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_ln"),
        "ln_nano",
    )
    arms = None
    for k in HILL_KS:
        ks = cum.filter(F.col("rn") == k).select(
            F.lit(k).cast("long").alias("k"),
            F.col("cum_ln").alias("sum_top"),
        )
        thr = cum.filter(F.col("rn") == k + 1).select(
            F.lit(k).cast("long").alias("k"),
            F.col("t4").alias("xk1_t4"),
            F.col("ln_nano").alias("ln_k1"),
        )
        arm = ks.join(thr, "k")
        arms = arm if arms is None else arms.unionByName(arm)
    mean_excess = (
        F.col("sum_top").cast("double")
        - F.col("k").cast("double") * F.col("ln_k1").cast("double")
    ) / 1e9 / F.col("k").cast("double")
    return arms.select(
        "k",
        F.round(F.col("xk1_t4").cast("double") / 1e4, 4).alias(
            "threshold_value_r4"
        ),
        F.round(mean_excess, 6).alias("mean_log_excess_r6"),
        F.when(mean_excess > 0, F.round(F.lit(1.0) / mean_excess, 6)).alias(
            "hill_alpha_r6"
        ),
    ).orderBy("k")


def hill_tail_index_sql() -> str:
    """Twin of hill_tail_index: identical top-(k+1) multiset and nano
    ln lattice."""
    kmax = max(HILL_KS)
    arms = "\n        UNION ALL ".join(
        f"""SELECT {k} AS k,
               (SELECT cum_ln FROM cum WHERE rn = {k}) AS sum_top,
               (SELECT t4 FROM cum WHERE rn = {k + 1}) AS xk1_t4,
               (SELECT ln_nano FROM cum WHERE rn = {k + 1}) AS ln_k1"""
        for k in HILL_KS
    )
    return f"""
    WITH top AS (
        SELECT CAST(floor(value * 10000 + 0.5) AS BIGINT) AS t4
        FROM events
        WHERE CAST(floor(value * 10000 + 0.5) AS BIGINT) > 0
        ORDER BY t4 DESC
        LIMIT {kmax + 1}
    ),
    ranked AS (
        SELECT t4,
               row_number() OVER (ORDER BY t4 DESC) AS rn,
               CAST(floor(ln(CAST(t4 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
                   AS ln_nano
        FROM top
    ),
    cum AS MATERIALIZED (
        SELECT rn, t4, ln_nano,
               CAST(sum(ln_nano) OVER (ORDER BY rn) AS BIGINT) AS cum_ln
        FROM ranked
    ),
    arms AS (
        {arms}
    )
    SELECT k,
           round(CAST(xk1_t4 AS DOUBLE) / 1e4, 4) AS threshold_value_r4,
           round((CAST(sum_top AS DOUBLE)
                  - CAST(k AS DOUBLE) * CAST(ln_k1 AS DOUBLE))
                 / 1e9 / CAST(k AS DOUBLE), 6) AS mean_log_excess_r6,
           CASE WHEN (CAST(sum_top AS DOUBLE)
                      - CAST(k AS DOUBLE) * CAST(ln_k1 AS DOUBLE))
                     / 1e9 / CAST(k AS DOUBLE) > 0
                THEN round(1.0 / ((CAST(sum_top AS DOUBLE)
                                   - CAST(k AS DOUBLE)
                                     * CAST(ln_k1 AS DOUBLE))
                                  / 1e9 / CAST(k AS DOUBLE)), 6)
           END AS hill_alpha_r6
    FROM arms
    WHERE sum_top IS NOT NULL AND xk1_t4 IS NOT NULL
    ORDER BY k
    """


# ---------------------------------------------------------------------------
# Poisson overdispersion test of per-user event counts
# ---------------------------------------------------------------------------


def event_overdispersion(t: dict[str, DataFrame]) -> DataFrame:
    """Index-of-dispersion test of per-user event counts against the
    Poisson null — the burstiness check for count models: capacity
    planning and anomaly thresholds that assume Poisson arrivals are
    wrong when D = var/mean ≫ 1 (a few whales dominate; switch to a
    negative-binomial model and per-key caps). The statistic
    (n−1)·D = Σ(k_i − k̄)²/k̄ is χ²_{n−1} under the null; the normal
    approximation z = ((n−1)D − (n−1))/√(2(n−1)) flags exceedance.

    Conditioning caveat: the sample is zero-truncated — only users
    with ≥1 event appear in the events table, so k_i ≥ 1 while the
    untruncated Poisson null allows k=0. Truncation raises the
    conditional mean more than the conditional variance, which biases
    D = var/mean UPWARD relative to an unconditional test, so an
    "overdispersed" flag here means "overdispersed GIVEN activity".
    For a fixture-scale mean (k̄ ≈ several events/user) the P(k=0)
    mass is small and the bias is second-order; re-test against the
    zero-truncated Poisson null if the unconditional reading matters.

    Exactness: per-user counts collapse to exact (n, Σk, Σk²)
    (decimal squares); D, χ², z follow one shared double sequence.

    Scale shape: one user-keyed count + one 1-row moment aggregate.
    Output: one row.
    """
    ev = t["events"]
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    dec = lambda c: c.cast("decimal(38,0)")
    agg = per.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s"),
        F.sum(dec(F.col("k")) * dec(F.col("k"))).alias("ss"),
    )
    # n <= 1 has no sample variance: every moment is NULL, as in the twin
    n = F.when(F.col("n") > 1, F.col("n").cast("double"))
    s = F.col("s").cast("double")
    ss = F.col("ss").cast("double")
    mean = s / n
    var = (n * ss - s * s) / (n * (n - 1.0))
    disp = var / mean
    chi2 = (n - 1.0) * disp
    z = (chi2 - (n - 1.0)) / F.sqrt(2.0 * (n - 1.0))
    return agg.select(
        F.col("n").cast("long").alias("n_users"),
        F.col("s").cast("long").alias("n_events"),
        F.round(mean, 6).alias("mean_r6"),
        F.round(var, 6).alias("var_r6"),
        F.round(disp, 6).alias("dispersion_r6"),
        F.round(z, 6).alias("z_r6"),
        (z > 1.959964).cast("int").alias("overdispersed"),
    )


def event_overdispersion_sql() -> str:
    """Twin of event_overdispersion: identical moment algebra."""
    return """
    WITH per AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS k
        FROM events GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(k) AS BIGINT) AS s,
               sum(CAST(k AS HUGEINT) * CAST(k AS HUGEINT)) AS ss,
               -- n <= 1 has no sample variance: every moment is NULL
               CASE WHEN count(*) > 1 THEN CAST(count(*) AS DOUBLE) END AS nd
        FROM per
    )
    SELECT n AS n_users, s AS n_events,
           round(CAST(s AS DOUBLE) / nd, 6) AS mean_r6,
           round((nd * CAST(ss AS DOUBLE)
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                 / (nd * (nd - 1.0)), 6)
               AS var_r6,
           round(((nd * CAST(ss AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                  / (nd * (nd - 1.0)))
                 / (CAST(s AS DOUBLE) / nd), 6)
               AS dispersion_r6,
           round(((nd - 1.0)
                  * ((nd * CAST(ss AS DOUBLE)
                      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                     / (nd * (nd - 1.0)))
                  / (CAST(s AS DOUBLE) / nd)
                  - (nd - 1.0))
                 / sqrt(2.0 * (nd - 1.0)), 6) AS z_r6,
           CAST(((nd - 1.0)
                 * ((nd * CAST(ss AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
                    / (nd * (nd - 1.0)))
                 / (CAST(s AS DOUBLE) / nd)
                 - (nd - 1.0))
                / sqrt(2.0 * (nd - 1.0)) > 1.959964 AS INT)
               AS overdispersed
    FROM agg
    """


# ---------------------------------------------------------------------------
# split-conformal prediction interval with holdout coverage audit
# ---------------------------------------------------------------------------

CONFORMAL_ALPHA = 0.1  # nominal 90% interval
CONFORMAL_CAL_FRACTION = 0.7  # chronological 70/30 calibration/test split


def conformal_revenue_interval(t: dict[str, DataFrame]) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al. 2018)
    around the daily-revenue OLS trend, with its finite-sample coverage
    guarantee AUDITED on a chronological holdout — the
    distribution-free answer to "what band should tomorrow's revenue
    fall in 90% of the time", and the honest upgrade over a Gaussian
    ±2σ band (no normality assumed; the guarantee is
    P(cover) ≥ 1−α by exchangeability, checked empirically here).

    Recipe: first 70% of days fit the OLS line (exact integer moments,
    the ols_trend sequence); the conformal radius is the
    ⌈(n_cal+1)(1−α)⌉-th smallest |residual| on those SAME calibration
    days (exact order statistic on the micro-rounded lattice, ties →
    earlier day); coverage_bp counts holdout days inside ±radius.

    Exactness: day index and cents are exact integers; residuals pass
    one shared double sequence then micro-round (1e6 — cents·1e9 could
    overflow int64 at large SF) before ranking; the rank selection and
    coverage counts are pure integer ops.

    Scale shape: one (day)-keyed aggregate (calendar-sized), ONE-ROW
    fit/k/radius broadcasts (allowlisted scalar class), windows only
    over the calendar relation. Output: one row.
    """
    o = t["orders"]
    daily = o.groupBy(
        F.datediff(F.date_trunc("day", "o_orderdate"), F.lit("1990-01-01"))
        .cast("long")
        .alias("d")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        )
        .cast("long")
        .alias("rev")
    )
    w = Window.orderBy("d")
    ranked = daily.withColumn("rn", F.row_number().over(w))
    nrow = ranked.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n"))
    nrow = nrow.select(
        "n",
        F.floor(
            F.col("n").cast("double") * F.lit(CONFORMAL_CAL_FRACTION)
        )
        .cast("long")
        .alias("n_cal"),
    )
    ranked = ranked.crossJoin(F.broadcast(nrow))
    cal = ranked.filter(F.col("rn") <= F.col("n_cal"))
    dec = lambda c: c.cast("decimal(38,0)")
    fit = cal.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("nc"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("rev").cast("long").alias("sr"),
        F.sum(dec(F.col("d")) * dec(F.col("rev"))).alias("sdr"),
        F.sum(dec(F.col("d")) * dec(F.col("d"))).alias("sdd"),
    )
    nc = F.col("nc").cast("double")
    sd = F.col("sd").cast("double")
    sr = F.col("sr").cast("double")
    sdr = F.col("sdr").cast("double")
    sdd = F.col("sdd").cast("double")
    slope = (nc * sdr - sd * sr) / (nc * sdd - sd * sd)
    fit = fit.select(
        "nc",
        slope.alias("slope"),
        ((sr - slope * sd) / nc).alias("intercept"),
    )
    scored = ranked.crossJoin(F.broadcast(fit)).withColumn(
        "resid_micro",
        F.floor(
            F.abs(
                F.col("rev").cast("double")
                - (F.col("intercept") + F.col("slope") * F.col("d").cast("double"))
            )
            * 1e6
            + F.lit(0.5)
        ).cast("long"),
    )
    k_rel = scored.groupBy().agg(
        F.min("n_cal").cast("long").alias("n_cal_k")
    ).select(
        F.least(
            F.ceil(
                (F.col("n_cal_k").cast("double") + F.lit(1.0))
                * F.lit(1.0 - CONFORMAL_ALPHA)
            ).cast("long"),
            F.col("n_cal_k"),
        ).alias("k")
    )
    wq = Window.orderBy("resid_micro", "d")
    qrow = (
        scored.filter(F.col("rn") <= F.col("n_cal"))
        .withColumn("qrn", F.row_number().over(wq))
        .crossJoin(F.broadcast(k_rel))
        .filter(F.col("qrn") == F.col("k"))
        .select(F.col("resid_micro").alias("q_micro"))
    )
    fin = (
        scored.filter(F.col("rn") > F.col("n_cal"))
        .crossJoin(F.broadcast(qrow))
        .groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                (F.col("resid_micro") <= F.col("q_micro")).cast("long")
            )
            .cast("long")
            .alias("covered"),
            F.min("n_cal").cast("long").alias("n_cal"),
            F.min("slope").alias("slope"),
            F.min("intercept").alias("intercept"),
            F.min("q_micro").cast("long").alias("q_micro"),
        )
    )
    return fin.select(
        "n_cal",
        "n_test",
        F.round(F.col("slope"), 4).alias("slope_cents_per_day_r4"),
        F.round(F.col("intercept") / 100.0, 2).alias("intercept_usd_r2"),
        F.round(
            F.col("q_micro").cast("double") / 1e6 / 100.0, 2
        ).alias("radius_usd_r2"),
        F.expr("(covered * 10000L) div n_test").cast("long").alias(
            "coverage_bp"
        ),
        F.lit(int((1.0 - CONFORMAL_ALPHA) * 10000)).cast("long").alias(
            "nominal_bp"
        ),
    )


def conformal_revenue_interval_sql() -> str:
    """Twin of conformal_revenue_interval: identical chronological
    split, moment sequence, micro-lattice rank selection and fold."""
    frac = CONFORMAL_CAL_FRACTION
    alpha = CONFORMAL_ALPHA
    return f"""
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1990-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT d, rev, row_number() OVER (ORDER BY d) AS rn,
               (SELECT count(*) FROM daily) AS n
        FROM daily
    ),
    split AS (
        SELECT *, CAST(floor(CAST(n AS DOUBLE) * {frac!r}) AS BIGINT)
                      AS n_cal
        FROM ranked
    ),
    fit AS (
        SELECT CAST(count(*) AS BIGINT) AS nc,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(rev) AS BIGINT) AS sr,
               sum(CAST(d AS HUGEINT) * CAST(rev AS HUGEINT)) AS sdr,
               sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
        FROM split WHERE rn <= n_cal
    ),
    coef AS (
        SELECT nc,
               (CAST(nc AS DOUBLE) * CAST(sdr AS DOUBLE)
                - CAST(sd AS DOUBLE) * CAST(sr AS DOUBLE))
               / (CAST(nc AS DOUBLE) * CAST(sdd AS DOUBLE)
                  - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)) AS slope,
               (CAST(sr AS DOUBLE)
                - ((CAST(nc AS DOUBLE) * CAST(sdr AS DOUBLE)
                    - CAST(sd AS DOUBLE) * CAST(sr AS DOUBLE))
                   / (CAST(nc AS DOUBLE) * CAST(sdd AS DOUBLE)
                      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)))
                  * CAST(sd AS DOUBLE)) / CAST(nc AS DOUBLE) AS intercept
        FROM fit
    ),
    scored AS (
        SELECT s.*, c.slope, c.intercept,
               CAST(floor(abs(CAST(rev AS DOUBLE)
                              - (c.intercept
                                 + c.slope * CAST(d AS DOUBLE)))
                          * 1e6 + 0.5) AS BIGINT) AS resid_micro
        FROM split s, coef c
    ),
    krel AS (
        SELECT least(CAST(ceil((CAST(min(n_cal) AS DOUBLE) + 1.0)
                               * {1.0 - alpha!r}) AS BIGINT),
                     min(n_cal)) AS k
        FROM scored
    ),
    qrow AS (
        SELECT resid_micro AS q_micro FROM (
            SELECT resid_micro,
                   row_number() OVER (ORDER BY resid_micro, d) AS qrn
            FROM scored WHERE rn <= n_cal
        ), krel WHERE qrn = k
    )
    SELECT CAST(min(n_cal) AS BIGINT) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           round(min(slope), 4) AS slope_cents_per_day_r4,
           round(min(intercept) / 100.0, 2) AS intercept_usd_r2,
           round(CAST(min(q.q_micro) AS DOUBLE) / 1e6 / 100.0, 2)
               AS radius_usd_r2,
           CAST((sum(CASE WHEN resid_micro <= q.q_micro THEN 1 ELSE 0 END)
                 * 10000) // count(*) AS BIGINT) AS coverage_bp,
           CAST({int((1.0 - CONFORMAL_ALPHA) * 10000)} AS BIGINT)
               AS nominal_bp
    FROM scored, qrow q WHERE rn > n_cal
    """


# ---------------------------------------------------------------------------
# deterministic permutation (randomization) test
# ---------------------------------------------------------------------------

PERM_R = 200
PERM_SEED = (624_917_299, 535_234_891, 2_246_822_519 % 1_000_000_007, 97_531_733)


def permutation_test_chars(
    t: dict[str, DataFrame], source: str = "src0", r_perms: int = PERM_R
) -> DataFrame:
    """Two-sample randomization test, RNG-free: does ``source`` have a
    different mean document length (n_chars) than the rest of the
    corpus? The null distribution relabels every document R times via a
    seeded per-(doc, r) hash (each relabeling assigns the doc to the A
    arm with probability n_a/n in exact integer arithmetic), computes
    the mean difference under each relabeling, and reports the
    two-sided rank p-value (1 + #{|diff_r| ≥ |observed|}) / (R + 1).
    Unlike the z/t tests (ab_test_zscore, welch_ttest_sources) this
    makes NO normality assumption — it is the distribution-free check
    you run when the parametric tests disagree with the bootstrap.

    Binomial relabeling (group sizes vary per permutation) is the
    one-pass scalable variant of exact relabeling — the same trade the
    Poisson bootstrap makes (Chamandy et al. 2012), and reproducible
    bit-for-bit in SQL because there is no RNG state, only the shared
    3-round hash mix.

    Exactness: per-permutation sums are exact integers; each diff
    divides integers twice; the comparison |diff_r| ≥ |obs| happens on
    identically-derived doubles on both engines.

    Scale shape: the R-fold explode feeds a partial (map-side)
    aggregate on r, so the exchange carries R rows per task, not R×n
    data rows; the observed contrast rides in as a ONE-ROW broadcast.
    Output: one row.
    """
    from .sketches import _hll_mix_spark

    d = t["documents"].select(
        "doc_id",
        (F.col("source") == source).alias("in_a"),
        F.col("n_chars").cast("long").alias("x"),
    )
    obs = d.agg(
        F.sum(F.when(F.col("in_a"), F.col("x")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(F.col("in_a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(~F.col("in_a"), F.col("x")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.sum(F.when(~F.col("in_a"), 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    ex = (
        d.select(
            "doc_id",
            "x",
            F.explode(F.sequence(F.lit(0), F.lit(r_perms - 1))).alias("r"),
        )
        .withColumn("r", F.col("r").cast("long"))
        .crossJoin(F.broadcast(obs))
    )
    u = _hll_mix_spark(F.col("doc_id") * r_perms + F.col("r"), PERM_SEED)
    thresh = F.expr("CAST(na * 10000 DIV (na + nb) AS BIGINT)")
    in_a_r = (u % 10000) < thresh
    per_r = (
        ex.select(
            "r",
            F.when(in_a_r, F.col("x")).otherwise(0).alias("xa"),
            F.when(in_a_r, 1).otherwise(0).alias("ca"),
            F.when(~in_a_r, F.col("x")).otherwise(0).alias("xb"),
            F.when(~in_a_r, 1).otherwise(0).alias("cb"),
        )
        .groupBy("r")
        .agg(
            F.sum("xa").cast("long").alias("sa_r"),
            F.sum("ca").cast("long").alias("na_r"),
            F.sum("xb").cast("long").alias("sb_r"),
            F.sum("cb").cast("long").alias("nb_r"),
        )
        .filter((F.col("na_r") > 0) & (F.col("nb_r") > 0))
    )
    diff_r = F.col("sa_r") / F.col("na_r") - F.col("sb_r") / F.col("nb_r")
    summary = per_r.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).cast("long").alias("r_used"),
        F.sum(
            F.when(
                F.abs(diff_r)
                >= F.abs(F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_extreme"),
    )
    return obs.crossJoin(F.broadcast(summary)).select(
        F.lit(source).alias("source"),
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(
            F.col("sa") / F.col("na") - F.col("sb") / F.col("nb"), 6
        ).alias("obs_diff"),
        "r_used",
        F.round(
            (F.lit(1) + F.col("n_extreme")) / (F.col("r_used") + 1), 6
        ).alias("p_value"),
    )


def permutation_test_chars_sql(
    source: str = "src0", r_perms: int = PERM_R
) -> str:
    """Twin: identical hash relabeling, integer folds, rank p-value."""
    from .sketches import _hll_mix_sql

    mix = _hll_mix_sql(f"(doc_id * {r_perms} + r)", PERM_SEED)
    return f"""
    WITH d AS (
        SELECT doc_id, source = '{source}' AS in_a,
               CAST(n_chars AS BIGINT) AS x
        FROM documents
    ),
    obs AS (
        SELECT CAST(sum(CASE WHEN in_a THEN x ELSE 0 END) AS BIGINT) AS sa,
               CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(sum(CASE WHEN NOT in_a THEN x ELSE 0 END) AS BIGINT)
                   AS sb,
               CAST(sum(CASE WHEN NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM d
    ),
    ex AS (
        SELECT doc_id, x, r, na, nb,
               {mix} AS u
        FROM d, unnest(range(0, {r_perms})) AS t(r), obs
    ),
    labeled AS (
        SELECT r,
               CASE WHEN u % 10000 < na * 10000 // (na + nb)
                    THEN TRUE ELSE FALSE END AS in_a_r,
               x
        FROM ex
    ),
    per_r AS (
        SELECT r,
               CAST(sum(CASE WHEN in_a_r THEN x ELSE 0 END) AS BIGINT)
                   AS sa_r,
               CAST(sum(CASE WHEN in_a_r THEN 1 ELSE 0 END) AS BIGINT)
                   AS na_r,
               CAST(sum(CASE WHEN NOT in_a_r THEN x ELSE 0 END) AS BIGINT)
                   AS sb_r,
               CAST(sum(CASE WHEN NOT in_a_r THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb_r
        FROM labeled GROUP BY r
        HAVING sum(CASE WHEN in_a_r THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN NOT in_a_r THEN 1 ELSE 0 END) > 0
    ),
    summary AS (
        SELECT CAST(count(*) AS BIGINT) AS r_used,
               CAST(sum(CASE WHEN abs(sa_r * 1.0 / na_r - sb_r * 1.0 / nb_r)
                             >= abs(o.sa * 1.0 / o.na - o.sb * 1.0 / o.nb)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
        FROM per_r, obs o
    )
    SELECT '{source}' AS source,
           o.na AS n_a, o.nb AS n_b,
           round(o.sa * 1.0 / o.na - o.sb * 1.0 / o.nb, 6) AS obs_diff,
           s.r_used,
           round((1 + s.n_extreme) * 1.0 / (s.r_used + 1), 6) AS p_value
    FROM obs o, summary s
    """


# ---------------------------------------------------------------------------
# exact 1-Wasserstein drift distance (round 8)
# ---------------------------------------------------------------------------


def wasserstein_length_by_source(t: dict[str, DataFrame]) -> DataFrame:
    """Exact 1-Wasserstein (earth-mover) distance between each source's
    document-length distribution and the whole-corpus mix — the
    magnitude-aware member of the drift kit: KS (ks_drift_by_source)
    reports the worst POINT discrepancy, PSI/JS report binned
    likelihood ratios, W1 reports how many character-units of mass must
    move, in the statistic's own units (here: characters).

    W1 for 1-D discrete distributions is the area between CDFs:
    Σ_x |F_s(x) − F_corpus(x)| · (next_x − x) over the corpus's
    distinct length values. Computed on CROSS-MULTIPLIED INTEGERS
    (|cum_s·n − cum_t·n_s| in decimal(38,0), scaled by the integer
    step dx) with ONE final double division, so both engines agree to
    the rounded-6 digit.

    Scale shape: one groupBy collapses the corpus to the
    (source, length) inventory; the evaluation grid is distinct-lengths
    × sources — metadata × metadata, same shape as the KS screen. The
    step widths come from a lead window over the DISTINCT length
    relation (bounded-domain, single metadata-sized partition by
    construction). Output: one row per source.
    """
    docs = t["documents"]
    csx = docs.groupBy(
        F.col("source").alias("src"), F.col("n_chars").alias("x")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = csx.groupBy("src").agg(F.sum("c").cast("long").alias("n_s"))
    dx = (
        csx.select("x")
        .distinct()
        .withColumn(
            "step",
            F.coalesce(F.lead("x").over(Window.orderBy("x")) - F.col("x"), F.lit(0)),
        )
    )
    grid = dx.crossJoin(F.broadcast(tot))
    j = grid.join(csx, ["src", "x"], "left").withColumn(
        "c", F.coalesce(F.col("c"), F.lit(0))
    )
    w_src = Window.partitionBy("src").orderBy("x")
    w_val = Window.partitionBy("x")
    j = j.withColumn("cum_s", F.sum("c").over(w_src).cast("long"))
    j = j.withColumn("cum_t", F.sum("cum_s").over(w_val).cast("long"))
    j = j.withColumn("n", F.sum("n_s").over(w_val).cast("long"))
    dec = lambda col: col.cast("decimal(38,0)")
    num = F.abs(
        dec(F.col("cum_s")) * dec(F.col("n"))
        - dec(F.col("cum_t")) * dec(F.col("n_s"))
    ) * dec(F.col("step"))
    per_src = (
        j.select("src", "n_s", "n", num.alias("num"))
        .groupBy("src", "n_s", "n")
        .agg(F.sum("num").alias("area"))
    )
    w1 = F.col("area").cast("double") / (
        F.col("n_s").cast("double") * F.col("n").cast("double")
    )
    return per_src.select(
        F.col("src").alias("source"),
        F.col("n_s").alias("n_source"),
        F.round(w1, 6).alias("w1_chars_r6"),
    ).orderBy("source")


def wasserstein_length_by_source_sql() -> str:
    """Twin: identical grid, integer cross-multiplied area, one divide."""
    return """
    WITH csx AS (
        SELECT source AS src, n_chars AS x, count(*) AS c
        FROM documents GROUP BY 1, 2
    ),
    tot AS (
        SELECT src, CAST(sum(c) AS BIGINT) AS n_s FROM csx GROUP BY src
    ),
    dx AS (
        SELECT x,
               coalesce(lead(x) OVER (ORDER BY x) - x, 0) AS step
        FROM (SELECT DISTINCT x FROM csx)
    ),
    grid AS (SELECT d.x, d.step, t.src, t.n_s FROM dx d CROSS JOIN tot t),
    j AS (
        SELECT g.src, g.x, g.step, g.n_s, coalesce(c.c, 0) AS c
        FROM grid g LEFT JOIN csx c ON c.src = g.src AND c.x = g.x
    ),
    cum AS (
        SELECT src, x, step, n_s,
               CAST(sum(c) OVER (
                   PARTITION BY src ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_s
        FROM j
    ),
    cum2 AS (
        SELECT src, x, step, n_s, cum_s,
               CAST(sum(cum_s) OVER (PARTITION BY x) AS BIGINT) AS cum_t,
               CAST(sum(n_s) OVER (PARTITION BY x) AS BIGINT) AS n
        FROM cum
    ),
    per_src AS (
        SELECT src, n_s, n,
               sum(abs(CAST(cum_s AS DECIMAL(38,0))
                           * CAST(n AS DECIMAL(38,0))
                       - CAST(cum_t AS DECIMAL(38,0))
                           * CAST(n_s AS DECIMAL(38,0)))
                   * CAST(step AS DECIMAL(38,0))) AS area
        FROM cum2 GROUP BY src, n_s, n
    )
    SELECT src AS source, n_s AS n_source,
           round(CAST(area AS DOUBLE)
                 / (CAST(n_s AS DOUBLE) * CAST(n AS DOUBLE)), 6)
               AS w1_chars_r6
    FROM per_src
    ORDER BY source
    """


# ---------------------------------------------------------------------------
# Benjamini-Hochberg FDR over per-source permutation tests (round 8)
# ---------------------------------------------------------------------------

# sidx stride bound for the (doc, source-test, permutation) hash key:
# supports corpora with up to 64 registered sources (the fixture has a
# handful; a 100 TB corpus registry is still dozens). A fixed literal
# keeps the key arithmetic identical in both engines with no
# data-dependent constant in the plan.
FDR_MAX_SOURCES = 64
FDR_ALPHA = 0.05


def fdr_bh_source_tests(
    t: dict[str, DataFrame], r_perms: int = PERM_R
) -> DataFrame:
    """Multiple-testing-corrected drift screen: run the RNG-free
    permutation test (``permutation_test_chars``) for EVERY source
    simultaneously — does source s have a different mean document
    length than the rest? — then apply the Benjamini-Hochberg
    step-up procedure at FDR α=0.05 across the family of tests.
    Screening every slice inflates false positives linearly in the
    slice count (test 60 sources at α=0.05 and ~3 'drifts' appear by
    chance); BH is the standard correction, and because the p-values
    here are exact permutation ranks, the whole chain — test AND
    correction — is deterministic on both engines.

    BH: sort p ascending (source tiebreak), reject the largest prefix
    whose p_(i) ≤ α·i/m; every rank at or below the crossing rank is
    rejected (step-up), which the plan expresses as one max-over-window
    of the qualifying ranks.

    Scale shape: the R-fold × S-fold explode feeds a partial
    (map-side) aggregate to (source, r) rows — the exchange carries
    S·R rows per task, never S·R·n data rows; per-source observed
    contrasts ride in as a broadcast S-row relation, and the BH window
    runs over S rows of metadata. Output: one row per source.
    """
    d = t["documents"].select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("x")
    )
    per_src = d.groupBy("source").agg(
        F.sum("x").cast("long").alias("sa"),
        F.count(F.lit(1)).cast("long").alias("na"),
    )
    tot = d.agg(
        F.sum("x").cast("long").alias("stot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w_src = Window.orderBy("source")
    # enforce the FDR_MAX_SOURCES stride bound instead of assuming it:
    # a 65th source would silently collide permutation keys across
    # documents (correlated permutations) — an error both engines would
    # agree on, so the oracle gate could never catch the degradation
    sidx_raw = (F.row_number().over(w_src) - 1).cast("long")
    sidx_checked = F.when(
        sidx_raw < F.lit(FDR_MAX_SOURCES), sidx_raw
    ).otherwise(
        F.raise_error(
            F.lit(
                "fdr_bh_source_tests: corpus has more than "
                f"{FDR_MAX_SOURCES} sources; permutation hash keys would "
                "collide across documents — raise FDR_MAX_SOURCES"
            )
        ).cast("long")
    )
    stats = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("sidx", sidx_checked)
        .withColumn("sb", (F.col("stot") - F.col("sa")).cast("long"))
        .withColumn("nb", (F.col("n") - F.col("na")).cast("long"))
        .select("source", "sidx", "sa", "na", "sb", "nb")
    )
    ex = (
        d.select(
            "doc_id",
            "x",
            F.explode(F.sequence(F.lit(0), F.lit(r_perms - 1))).alias("r"),
        )
        .withColumn("r", F.col("r").cast("long"))
        .join(F.broadcast(stats), how="cross")
    )
    from .sketches import _hll_mix_spark

    key = (
        F.col("doc_id") * (r_perms * FDR_MAX_SOURCES)
        + F.col("sidx") * r_perms
        + F.col("r")
    )
    u = _hll_mix_spark(key, PERM_SEED)
    thresh = F.expr("CAST(na * 10000 DIV (na + nb) AS BIGINT)")
    in_a_r = (u % 10000) < thresh
    per_r = (
        ex.select(
            "source",
            "r",
            F.when(in_a_r, F.col("x")).otherwise(0).alias("xa"),
            F.when(in_a_r, 1).otherwise(0).alias("ca"),
            F.when(~in_a_r, F.col("x")).otherwise(0).alias("xb"),
            F.when(~in_a_r, 1).otherwise(0).alias("cb"),
        )
        .groupBy("source", "r")
        .agg(
            F.sum("xa").cast("long").alias("sa_r"),
            F.sum("ca").cast("long").alias("na_r"),
            F.sum("xb").cast("long").alias("sb_r"),
            F.sum("cb").cast("long").alias("nb_r"),
        )
        .filter((F.col("na_r") > 0) & (F.col("nb_r") > 0))
    )
    diff_r = F.col("sa_r") / F.col("na_r") - F.col("sb_r") / F.col("nb_r")
    obs_diff = F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
    pvals = (
        per_r.join(F.broadcast(stats), "source")
        .groupBy("source", "sa", "na", "sb", "nb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("r_used"),
            F.sum(
                F.when(F.abs(diff_r) >= F.abs(obs_diff), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_extreme"),
        )
        .select(
            "source",
            F.round(obs_diff, 6).alias("obs_diff"),
            (
                (F.lit(1) + F.col("n_extreme"))
                / (F.col("r_used") + F.lit(1))
            ).alias("p"),
        )
    )
    w_rank = Window.orderBy("p", "source")
    w_all = Window.partitionBy()
    ranked = pvals.withColumn(
        "bh_rank", F.row_number().over(w_rank).cast("long")
    ).withColumn("m", F.count(F.lit(1)).over(w_all).cast("long"))
    bh_thr = F.lit(FDR_ALPHA) * F.col("bh_rank") / F.col("m")
    ranked = ranked.withColumn(
        "k",
        F.max(
            F.when(F.col("p") <= bh_thr, F.col("bh_rank"))
        ).over(w_all),
    )
    return ranked.select(
        "source",
        "obs_diff",
        F.round("p", 6).alias("p_value"),
        "bh_rank",
        F.round(bh_thr, 6).alias("bh_threshold_r6"),
        (F.col("bh_rank") <= F.coalesce(F.col("k"), F.lit(0)))
        .cast("int")
        .alias("rejected"),
    ).orderBy("bh_rank")


def fdr_bh_source_tests_sql(r_perms: int = PERM_R) -> str:
    """Twin: identical hash relabeling per (doc, source-test, r),
    integer folds, rank p-values, and BH step-up window."""
    from .sketches import _hll_mix_sql

    mix = _hll_mix_sql(
        f"(doc_id * {r_perms * FDR_MAX_SOURCES} + sidx * {r_perms} + r)",
        PERM_SEED,
    )
    return f"""
    WITH d AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS x FROM documents
    ),
    tot AS (
        SELECT CAST(sum(x) AS BIGINT) AS stot,
               CAST(count(*) AS BIGINT) AS n
        FROM d
    ),
    stats AS (
        SELECT source,
               CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT)
                   AS sidx,
               CAST(sum(x) AS BIGINT) AS sa,
               CAST(count(*) AS BIGINT) AS na,
               (SELECT stot FROM tot) - CAST(sum(x) AS BIGINT) AS sb,
               (SELECT n FROM tot) - CAST(count(*) AS BIGINT) AS nb
        FROM d GROUP BY source
    ),
    ex AS (
        SELECT d.doc_id, d.x, t.r, s.source, s.sidx, s.sa, s.na, s.sb, s.nb,
               {mix} AS u
        FROM d, unnest(range(0, {r_perms})) AS t(r), stats s
    ),
    per_r AS (
        SELECT source, r,
               CAST(sum(CASE WHEN u % 10000 < na * 10000 // (na + nb)
                             THEN x ELSE 0 END) AS BIGINT) AS sa_r,
               CAST(sum(CASE WHEN u % 10000 < na * 10000 // (na + nb)
                             THEN 1 ELSE 0 END) AS BIGINT) AS na_r,
               CAST(sum(CASE WHEN u % 10000 >= na * 10000 // (na + nb)
                             THEN x ELSE 0 END) AS BIGINT) AS sb_r,
               CAST(sum(CASE WHEN u % 10000 >= na * 10000 // (na + nb)
                             THEN 1 ELSE 0 END) AS BIGINT) AS nb_r
        FROM ex GROUP BY source, r
        HAVING sum(CASE WHEN u % 10000 < na * 10000 // (na + nb)
                   THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN u % 10000 >= na * 10000 // (na + nb)
                   THEN 1 ELSE 0 END) > 0
    ),
    pvals AS (
        SELECT p.source,
               round(s.sa * 1.0 / s.na - s.sb * 1.0 / s.nb, 6) AS obs_diff,
               (1 + CAST(sum(CASE WHEN abs(p.sa_r * 1.0 / p.na_r
                                           - p.sb_r * 1.0 / p.nb_r)
                                       >= abs(s.sa * 1.0 / s.na
                                              - s.sb * 1.0 / s.nb)
                                  THEN 1 ELSE 0 END) AS BIGINT)) * 1.0
                   / (CAST(count(*) AS BIGINT) + 1) AS p
        FROM per_r p JOIN stats s ON s.source = p.source
        GROUP BY p.source, s.sa, s.na, s.sb, s.nb
    ),
    ranked AS (
        SELECT source, obs_diff, p,
               CAST(row_number() OVER (ORDER BY p, source) AS BIGINT)
                   AS bh_rank,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pvals
    ),
    crossing AS (
        SELECT *,
               max(CASE WHEN p <= CAST({FDR_ALPHA} AS DOUBLE) * bh_rank / m
                        THEN bh_rank END) OVER () AS k
        FROM ranked
    )
    SELECT source, obs_diff, round(p, 6) AS p_value, bh_rank,
           round(CAST({FDR_ALPHA} AS DOUBLE) * bh_rank / m, 6) AS bh_threshold_r6,
           CAST(CASE WHEN bh_rank <= coalesce(k, 0) THEN 1 ELSE 0
                END AS INT) AS rejected
    FROM crossing
    ORDER BY bh_rank
    """
