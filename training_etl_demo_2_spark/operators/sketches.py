"""Sketch-based approximate aggregates — the cardinality/quantile scale
path for 100 TB interactive analytics.

Exact ``count(DISTINCT)`` shuffles every distinct value; a DataSketches
HLL sketch is a fixed ~KB summary with two properties that matter at
scale:

* **single-pass**: one shuffle of sketch buffers, never of values;
* **mergeable**: per-partition / per-day sketches union losslessly, so
  rollups (day -> month -> total) and incremental (streaming) updates
  never rescan history — the property exact distinct counts lack.

Estimates are engine-specific (no DuckDB twin can match bit-for-bit),
so these register as rows-only queries; pytest pins relative error
against the exact answer and checks merge-consistency invariants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..cache import tracked_cache

# lgConfigK=12 -> 4 KiB sketches, ~1.6% relative standard error.
LG_K = 12


def approx_user_stats(t: dict[str, DataFrame]) -> DataFrame:
    """Per-event-type approximate distinct users (HLL) next to the exact
    percentile sketch of values — the interactive-dashboard aggregate.
    One shuffle; state per group is O(KB) regardless of row count."""
    return (
        t["events"]
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(LG_K))
            ).alias("approx_users"),
            F.approx_count_distinct("user_id").alias("approx_users_hllpp"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def daily_user_sketches(t: dict[str, DataFrame]) -> DataFrame:
    """Materialized per-day HLL sketches — the incremental building
    block: a new day appends one row; any date-range cardinality is a
    union over the covered rows (no rescan of events)."""
    return (
        t["events"]
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .agg(F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("user_sketch"))
    )


def union_user_estimate(daily: DataFrame) -> DataFrame:
    """Cardinality over any set of per-day sketch rows via lossless
    union — demonstrates the mergeability contract."""
    return daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias(
            "approx_users_total"
        )
    )


# ---------------------------------------------------------------------------
# mergeable fixed-bin histograms -> approximate quantiles
# ---------------------------------------------------------------------------

# Bin width for event values: fine enough that the quantile estimate
# (bin lower edge) sits within one width of the exact answer, coarse
# enough that |bins| stays metadata-sized. DETERMINISTIC — unlike
# t-digest/KLL, a fixed-bin histogram has no data-dependent layout, so
# an ANSI-SQL oracle reproduces it bit-for-bit.
HIST_BIN_WIDTH = 5.0


def daily_value_histograms(
    events: DataFrame, bin_width: float = HIST_BIN_WIDTH
) -> DataFrame:
    """Materialized per-(day, type) value histograms:
    (day, event_type, bin, n) with bin = floor(value / width).

    The quantile analogue of ``daily_user_sketches``: a new day appends
    rows; any date-range quantile is a SUM of bin counts over covered
    rows — mergeable by construction, no rescan of events. State per
    (day, type) is |occupied bins|, bounded by range/width."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_type",
            F.floor(F.col("value") / bin_width).cast("long").alias("bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def histogram_quantiles(
    hist: DataFrame,
    qs: tuple = (0.25, 0.5, 0.75, 0.95),
    bin_width: float = HIST_BIN_WIDTH,
) -> DataFrame:
    """Approximate quantiles per event_type from merged histogram
    blocks: merge (sum bins across days), cumulative-sum, and for each
    q report the LOWER EDGE of the first bin whose cumulative count
    reaches ceil(q·n) — pure integer selection, so engine and oracle
    agree exactly; the approximation error is < bin_width by
    construction (pytest pins it against exact percentiles).

    Merge is one small shuffle over (type, bin); the window runs over
    |occupied bins| rows per type — metadata scale."""
    from pyspark.sql import Window

    merged = hist.groupBy("event_type", "bin").agg(
        F.sum("n").cast("long").alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "bin",
        F.sum("n").over(w).alias("cum"),
        F.sum("n").over(tot).alias("total"),
    )
    # ONE pass for all quantiles: broadcast the tiny q relation across
    # the cumulative bins and take min(bin) per (type, q) — a per-q
    # union would recompute the merge+window once per quantile.
    qdf = hist.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    return (
        cum.crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.ceil(F.col("q") * F.col("total")).cast("long"))
        .groupBy("event_type", "q")
        .agg(F.min("bin").alias("bin"))
        .select(
            "event_type",
            "q",
            F.round(F.col("bin") * bin_width, 2).alias("q_est"),
        )
    )


def events_histogram_quantiles(t: dict[str, DataFrame]) -> DataFrame:
    """Registered query: quantile estimates per type reconstructed from
    the mergeable daily blocks (never from raw events)."""
    return histogram_quantiles(daily_value_histograms(t["events"]))


def events_histogram_quantiles_sql(
    qs: tuple = (0.25, 0.5, 0.75, 0.95), bin_width: float = HIST_BIN_WIDTH
) -> str:
    """Oracle twin: same daily blocks, same merge, same integer
    selection rule."""
    q_rows = ", ".join(f"(CAST({q} AS DOUBLE))" for q in qs)
    return f"""
    WITH hist AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type,
               CAST(floor(value / {bin_width}) AS BIGINT) AS bin,
               count(*) AS n
        FROM events GROUP BY 1, 2, 3
    ), merged AS (
        SELECT event_type, bin, CAST(sum(n) AS BIGINT) AS n
        FROM hist GROUP BY event_type, bin
    ), cum AS (
        SELECT event_type, bin,
               sum(n) OVER (PARTITION BY event_type ORDER BY bin
                            ROWS UNBOUNDED PRECEDING) AS c,
               sum(n) OVER (PARTITION BY event_type) AS total
        FROM merged
    ), qs(q) AS (VALUES {q_rows})
    SELECT event_type, q, round(min(bin) * {bin_width}, 2) AS q_est
    FROM cum CROSS JOIN qs
    WHERE c >= ceil(q * total)
    GROUP BY event_type, q
    """


# ---------------------------------------------------------------------------
# count-min sketch (heavy hitters)
# ---------------------------------------------------------------------------

# Deterministic pairwise-independent hash rows: bucket_d(h) =
# ((a_d*h + b_d) % P) % CMS_W with a_d, b_d from CMS_A / CMS_B. Plain
# integer arithmetic (products < P^2 < 2^63), so engine and oracle
# agree bit-for-bit — unlike the HLL sketches above, the CMS is fully
# oracle-checkable. The cell map has one definition per side:
# ``_cms_cells`` (engine) and ``_cms_cells_sql`` (DuckDB twins); every
# CMS grid and probe below goes through them.
CMS_P = 1_000_000_007
CMS_D = 4
CMS_W = 1024
CMS_A = [((i + 1) * 2_654_435_761) % CMS_P for i in range(CMS_D)]
CMS_B = [((i + 1) * 60_013 + 7) % CMS_P for i in range(CMS_D)]


def _cms_cells(src: DataFrame, *keep: str) -> DataFrame:
    """(keep..., d, b): every row of ``src`` (which carries the item
    hash ``h``) exploded to its CMS_D grid cells, b = bucket_d(h)."""
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(d).alias("d"),
                    (((F.lit(CMS_A[d]) * F.col("h") + F.lit(CMS_B[d]))
                      % CMS_P) % CMS_W).alias("b"),
                )
                for d in range(CMS_D)
            ]
        )
    ).alias("db")
    return src.select(*keep, cells).select(
        *keep, F.col("db.d").alias("d"), F.col("db.b").alias("b")
    )


def _cms_cells_sql(src: str, *keep: str) -> str:
    """Twin of ``_cms_cells``: one ``SELECT keep..., d, b FROM src`` arm
    per hash row, UNION ALL'd."""
    cols = "".join(f"{k}, " for k in keep)
    return " UNION ALL ".join(
        f"SELECT {cols}{d} AS d, "
        f"((({CMS_A[d]} * h + {CMS_B[d]}) % {CMS_P}) % {CMS_W}) AS b"
        f" FROM {src}"
        for d in range(CMS_D)
    )


def cms_word_estimates(docs: DataFrame, k: int = 20) -> DataFrame:
    """Count-min sketch over the corpus word stream, evaluated on the
    top-``k`` true heavy hitters: (word, true_cnt, cms_est).

    The sketch is a (CMS_D x CMS_W) integer grid built with ONE
    groupBy over (row, bucket) pairs — 4 rows per token, partial aggs
    do the compression map-side. It is mergeable by cell-wise addition
    (daily sketch blocks sum losslessly, like the HLL/histogram blocks
    above) and its estimate min_d(grid[d][bucket_d(w)]) upper-bounds
    the true count (pinned in tests: est >= true, and with W=1024 vs a
    31-word vocabulary, est == true — no collisions to inflate).

    100 TB shape: the grid is 4x1024 longs (~32 KB) regardless of
    corpus size; queries touch CMS_D cells per item via a broadcast
    join of the tiny grid relation.
    """
    from ..functions import rolling_hash

    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    hashed = words.select("w", rolling_hash(F.col("w")).alias("h"))

    grid = _cms_cells(hashed).groupBy("d", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )

    true_counts = (
        hashed.groupBy("w", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("w"))
        .limit(k)
    )
    probes = _cms_cells(true_counts, "w", "true_cnt")
    return (
        probes.join(F.broadcast(grid), ["d", "b"])
        .groupBy("w", "true_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
        .select(F.col("w").alias("word"), "true_cnt", "cms_est")
    )


def cms_word_estimates_sql(k: int = 20) -> str:
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="w")
    return f"""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    hashed AS (SELECT w, {h} AS h FROM words WHERE w != ''),
    grid AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS c
        FROM ({_cms_cells_sql("hashed")}) GROUP BY d, b
    ),
    topk AS (
        SELECT w, h, CAST(count(*) AS BIGINT) AS true_cnt
        FROM hashed GROUP BY w, h
        ORDER BY true_cnt DESC, w ASC LIMIT {k}
    )
    SELECT p.w AS word, p.true_cnt, CAST(min(g.c) AS BIGINT) AS cms_est
    FROM ({_cms_cells_sql("topk", "w", "true_cnt")}) p
    JOIN grid g USING (d, b)
    GROUP BY p.w, p.true_cnt
    """


def cms_join_size_estimate(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
) -> DataFrame:
    """Equi-join cardinality estimation from two count-min sketches —
    the optimizer-statistics primitive (AGMS/CMS inner product): for
    each hash row d, sum_b gridA[d][b] * gridB[d][b] upper-bounds the
    true join size; the estimate is the MIN over rows. Exact when no
    buckets collide. Returns one row (est_join_size, true_join_size)
    so the bound is visible in the output itself.

    Why it matters at 100 TB: join-size estimates decide broadcast vs
    shuffle vs skew handling BEFORE running the join; two 32 KB grids
    (built with one groupBy each, mergeable per-partition/per-day)
    answer it without touching either table again. Integer arithmetic
    throughout (fixture counts keep products < 2^63; at trillion-row
    scale switch the inner product to DOUBLE — the estimate is
    approximate anyway).
    """
    def grid(df: DataFrame, key: str) -> DataFrame:
        return (
            _cms_cells(df.select(F.col(key).cast("long").alias("h")))
            .groupBy("d", "b")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )

    ga = grid(fact, fact_key).withColumnRenamed("cnt", "ca")
    gb = grid(dim, dim_key).withColumnRenamed("cnt", "cb")
    est = (
        ga.join(gb, ["d", "b"])
        .groupBy("d")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("ip"))
        .agg(F.min("ip").cast("long").alias("est_join_size"))
    )
    true_size = (
        fact.select(F.col(fact_key).alias("k"))
        .join(dim.select(F.col(dim_key).alias("k")), "k")
        .agg(F.count(F.lit(1)).cast("long").alias("true_join_size"))
    )
    return est.crossJoin(F.broadcast(true_size))


def cms_join_size_sql(
    fact_sql: str, dim_sql: str, fact_key: str, dim_key: str
) -> str:
    return f"""
    WITH ka AS (SELECT CAST({fact_key} AS BIGINT) AS h FROM ({fact_sql})),
    kb AS (SELECT CAST({dim_key} AS BIGINT) AS h FROM ({dim_sql})),
    ga AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS ca
        FROM ({_cms_cells_sql("ka")}) GROUP BY d, b
    ),
    gb AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS cb
        FROM ({_cms_cells_sql("kb")}) GROUP BY d, b
    ),
    est AS (
        SELECT CAST(min(ip) AS BIGINT) AS est_join_size
        FROM (SELECT d, sum(ca * cb) AS ip
              FROM ga JOIN gb USING (d, b) GROUP BY d)
    ),
    tru AS (
        SELECT CAST(count(*) AS BIGINT) AS true_join_size
        FROM ka JOIN kb ON ka.h = kb.h
    )
    SELECT est_join_size, true_join_size FROM est CROSS JOIN tru
    """


# ---------------------------------------------------------------------------
# engine-owned HLL with explicit registers (cross-engine bit-exact)
# ---------------------------------------------------------------------------

# Unlike the DataSketches tier above (engine-specific serialization,
# rows-only), this HLL owns its hash and register layout, so a DuckDB
# twin reproduces the ESTIMATE bit-for-bit: the register sum
# Σ 2^(RHO_BITS+1−ρ_j) is kept as an exact INTEGER (order-invariant),
# and only the final α·m²·2^(RHO_BITS+1)/S division is floating point.
# Each formula has one definition per side, used by every HLL query in
# this module and by streaming.fixture_queries.stream_hll_users:
# * hash -> rho -> per-register max: ``_hll_registers`` (engine),
#   ``_hll_regs_sql`` (twins, rho via ``_hll_rho_cases``);
# * register-sum fold and FFGM estimate with small-range correction:
#   ``_hll_fold`` (engine), ``_hll_fold_sql`` (twins).
HLL_P_BITS = 10  # m = 1024 registers (~1024 B, ±3.2% RSE)
HLL_M = 1 << HLL_P_BITS
HLL_P1 = 1_000_000_007
HLL_P2 = 998_244_353
# Two independent 3-round multiply-mod + xor-shift mixes (all products
# < 2^63, every op exists in both engines): one hash picks the
# register, the other supplies the EXACT power-of-two uniform the
# geometric rho needs — a single 2-universal (a·x+b) mod p hash leaves
# sequential ids correlated across registers and u's non-2^k range
# biases P(rho=1), both observed as >15% estimate error.
HLL_IDX_SEED = (736_338_717, 611_603_579, 2_654_435_761 % HLL_P1, 362_437_151)
HLL_RHO_SEED = (915_488_749, 784_913_299, 1_779_033_703 % HLL_P1, 144_115_183)
HLL_RHO_BITS = 20  # u uniform on [0, 2^20) -> rho ∈ [1, 21]
# alpha_m for m >= 128 (Flajolet et al. 2007)
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def _hll_mix_spark(col, seed):
    a1, a2, a3, b = seed
    x1 = (col % HLL_P1) * a1 % HLL_P1
    x1 = x1.bitwiseXOR(F.shiftright(x1, 7))
    x2 = (x1 % HLL_P2) * a2 % HLL_P2
    x2 = x2.bitwiseXOR(F.shiftright(x2, 11))
    return (x2 * a3 + b) % HLL_P1


def _hll_mix_sql(expr: str, seed) -> str:
    a1, a2, a3, b = seed
    s1 = f"(({expr} % {HLL_P1}) * {a1} % {HLL_P1})"
    s1x = f"xor({s1}, {s1} >> 7)"
    s2 = f"(({s1x} % {HLL_P2}) * {a2} % {HLL_P2})"
    s2x = f"xor({s2}, {s2} >> 11)"
    return f"(({s2x} * {a3} + {b}) % {HLL_P1})"


def _hll_rho_cases(u_expr: str) -> str:
    """SQL CASE chain: rho = (RHO_BITS - bit_length(u)) + 1 computed in
    pure integer comparisons — no float log2 at power-of-two edges."""
    whens = "\n".join(
        f"            WHEN {u_expr} >= {1 << k} THEN {HLL_RHO_BITS - k}"
        for k in range(HLL_RHO_BITS - 1, -1, -1)
    )
    return f"CASE\n{whens}\n            ELSE {HLL_RHO_BITS + 1} END"


def _hll_registers(df: DataFrame, value: Column, *group) -> DataFrame:
    """(group..., idx, mrho): the HLL register relation of the long
    Column ``value`` per ``group`` (names or aliased Columns). Two
    independent mixes give the register index (mod m) and an exact
    2^20-uniform u; rho = leading-zero rank of u from integer threshold
    comparisons (no float log2); each register keeps max(rho). The
    relation IS the mergeable sketch: copies union by max(mrho)."""
    hashed = df.select(
        *group,
        (_hll_mix_spark(value, HLL_IDX_SEED) % HLL_M).alias("idx"),
        (_hll_mix_spark(value, HLL_RHO_SEED) % (1 << HLL_RHO_BITS)).alias("u"),
    )
    rho = F.lit(HLL_RHO_BITS + 1)
    for k in range(HLL_RHO_BITS):
        rho = F.when(F.col("u") >= (1 << k), HLL_RHO_BITS - k).otherwise(rho)
    return hashed.groupBy(*hashed.columns[:-1]).agg(F.max(rho).alias("mrho"))


def _hll_fold(regs: DataFrame, *group: str) -> DataFrame:
    """(group..., v_empty, s_int, est) from a (group..., idx, mrho)
    register relation: v_empty empty registers, s_int the exact integer
    register sum (empty registers contribute 2^(RHO_BITS+1)), est the
    FFGM estimate with small-range correction (E ≤ 2.5m and V > 0 →
    m·ln(m/V)). One double division after the order-invariant integer
    fold, so the twin (``_hll_fold_sql``) agrees exactly."""
    top = HLL_RHO_BITS + 1
    per = regs.groupBy(*group).agg(
        F.count(F.lit(1)).alias("n_regs"),
        F.sum(F.expr(f"shiftleft(1L, {top} - mrho)"))
        .cast("long")
        .alias("s_used"),
    )
    v = F.lit(HLL_M) - F.col("n_regs")
    s_int = F.col("s_used") + v * (1 << top)
    e_raw = F.lit(HLL_ALPHA * HLL_M * HLL_M * (1 << top)) / s_int.cast(
        "double"
    )
    est = F.when(
        (e_raw <= 2.5 * HLL_M) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v.cast("double")),
    ).otherwise(e_raw)
    return per.select(
        *group, v.alias("v_empty"), s_int.alias("s_int"), est.alias("est")
    )


def _hll_regs_sql(name: str, value: str, source: str, *keys: str) -> str:
    """Twin of ``_hll_registers``: the CTE pair ``h_{name}`` (keys...,
    idx, u) over ``FROM {source}`` and ``{name}`` (keys..., idx, mrho),
    materialized (≤ m rows per key)."""
    cols = "".join(f"{k}, " for k in keys)
    return f"""h_{name} AS (
        SELECT {cols}{_hll_mix_sql(value, HLL_IDX_SEED)} % {HLL_M} AS idx,
               {_hll_mix_sql(value, HLL_RHO_SEED)}
                   % {1 << HLL_RHO_BITS} AS u
        FROM {source}
    ),
    {name} AS MATERIALIZED (
        SELECT {cols}idx, max({_hll_rho_cases("u")}) AS mrho
        FROM h_{name} GROUP BY {cols}idx
    )"""


def _hll_fold_sql(regs: str, *keys: str) -> str:
    """Twin of ``_hll_fold``: a SELECT of (keys..., v_empty, s_int, est)
    over the register relation ``regs`` — same integer fold, same
    double sequence."""
    top = HLL_RHO_BITS + 1
    cols = "".join(f"{k}, " for k in keys)
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    e_raw = (
        f"(CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}"
        f" * (CAST(1 AS BIGINT) << {top})) / CAST(s_int AS DOUBLE)"
    )
    return f"""
        SELECT {cols}v_empty, s_int,
               CASE WHEN {e_raw} <= 2.5 * {HLL_M} AND v_empty > 0
                    THEN CAST({HLL_M} AS DOUBLE)
                         * ln(CAST({HLL_M} AS DOUBLE)
                              / CAST(v_empty AS DOUBLE))
                    ELSE {e_raw}
               END AS est
        FROM (
            SELECT {cols}{HLL_M} - count(*) AS v_empty,
                   CAST(sum(CAST(1 AS BIGINT) << ({top} - mrho)) AS BIGINT)
                       + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {top})
                       AS s_int
            FROM {regs}{group}
        )"""


def hll_user_estimate(t: dict[str, DataFrame]) -> DataFrame:
    """Per-event-type distinct-user estimate from an EXPLICIT-register
    HyperLogLog (Flajolet-Furic-Gandouet-Meunier 2007) built on the
    engine's own 2-universal hash — next to the exact answer and the
    error in basis points, so the sketch's accuracy contract is
    itself a verified query.

    Registers from ``_hll_registers``, estimate (with the paper's
    small-range correction) from ``_hll_fold``.

    Scale shape: one groupBy to (type, register) — ≤ m rows per type
    regardless of corpus size — then a ≤ m-row per-type fold. The
    register relation IS the mergeable sketch: day-partitioned copies
    union by max(rho). The exact-distinct branch exists only to grade
    the estimate and is the thing you'd drop at 100 TB.
    """
    ev = t["events"]
    regs = _hll_registers(ev, F.col("user_id").cast("long"), "event_type")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    joined = _hll_fold(regs, "event_type").join(exact, "event_type")
    err_bp = (
        F.abs(F.col("est") - F.col("exact_users").cast("double"))
        * 10000.0
        / F.col("exact_users")
    )
    return joined.select(
        "event_type",
        "v_empty",
        "s_int",
        F.round("est", 6).alias("est_r6"),
        "exact_users",
        F.floor(err_bp + F.lit(0.5)).cast("long").alias("err_bp"),
    )


def hll_user_estimate_sql() -> str:
    """Twin of hll_user_estimate: identical hash, integer rho chain,
    integer register sum, identical double formulas."""
    return f"""
    WITH {_hll_regs_sql("regs", "user_id", "events", "event_type")},
    exact AS (
        SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
                   AS exact_users
        FROM events GROUP BY 1
    ),
    est AS ({_hll_fold_sql("regs", "event_type")})
    SELECT f.event_type, CAST(f.v_empty AS BIGINT) AS v_empty, f.s_int,
           round(f.est, 6) AS est_r6, e.exact_users,
           CAST(floor(abs(f.est - e.exact_users) * 10000.0 / e.exact_users
                      + 0.5) AS BIGINT) AS err_bp
    FROM est f JOIN exact e ON f.event_type = e.event_type
    """


# ---------------------------------------------------------------------------
# HLL set operations: pairwise audience overlap between event types
# ---------------------------------------------------------------------------


def hll_source_overlap(t: dict[str, DataFrame]) -> DataFrame:
    """Pairwise audience overlap between event types from MERGED
    HyperLogLog sketches — the sketch algebra that answers "how many
    users do 'view' and 'purchase' share?" without ever co-shuffling
    user sets: union = register-wise max of the two sketches,
    intersection = inclusion-exclusion over three estimates, Jaccard =
    their ratio. Next to each estimate sits the exact answer, so the
    inclusion-exclusion error (the known weak spot of HLL
    intersections — relative error grows as the true overlap shrinks)
    is itself measured and regression-pinned.

    Scale shape: ONE pass builds the (type, register) relation (≤ m
    rows per type at any corpus size); the pair grid is the
    |types|²/2 metadata self-join; each union fold runs over ≤ 2m
    register rows per pair. The exact branch (distinct (user,type)
    self-join) exists to grade the estimates and is what you'd drop
    at 100 TB. Output: one row per unordered type pair.
    """
    ev = t["events"]
    regs = _hll_registers(ev, F.col("user_id").cast("long"), "event_type")
    regs.transform(tracked_cache)
    est_t = _hll_fold(regs, "event_type").select(
        "event_type", F.col("est").alias("e")
    )
    types = regs.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            F.broadcast(types.alias("b")),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("ta"),
            F.col("b.event_type").alias("tb"),
        )
    )
    regs_r = regs.select(
        F.col("event_type").alias("rt"), "idx", "mrho"
    )
    pr_a = pairs.join(regs_r, F.col("ta") == F.col("rt")).select(
        "ta", "tb", "idx", "mrho"
    )
    pr_b = pairs.join(regs_r, F.col("tb") == F.col("rt")).select(
        "ta", "tb", "idx", "mrho"
    )
    union_regs = (
        pr_a.unionByName(pr_b)
        .groupBy("ta", "tb", "idx")
        .agg(F.max("mrho").alias("mrho"))
    )
    union_fold = _hll_fold(union_regs, "ta", "tb").select(
        "ta", "tb", F.col("est").alias("e_union")
    )
    # exact branch (grading only)
    ut = ev.select("user_id", "event_type").distinct()
    exact_t = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nx")
    )
    exact_pair = (
        ut.alias("x")
        .join(
            ut.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("ta"),
            F.col("y.event_type").alias("tb"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    )
    out = (
        union_fold.join(
            est_t.select(
                F.col("event_type").alias("ta"), F.col("e").alias("e_a")
            ),
            "ta",
        )
        .join(
            est_t.select(
                F.col("event_type").alias("tb"), F.col("e").alias("e_b")
            ),
            "tb",
        )
        .join(
            exact_t.select(
                F.col("event_type").alias("ta"), F.col("nx").alias("x_a")
            ),
            "ta",
        )
        .join(
            exact_t.select(
                F.col("event_type").alias("tb"), F.col("nx").alias("x_b")
            ),
            "tb",
        )
        .join(exact_pair, ["ta", "tb"], "left")
        .fillna({"exact_inter": 0})
    )
    e_inter = F.greatest(
        F.col("e_a") + F.col("e_b") - F.col("e_union"), F.lit(0.0)
    )
    exact_union = F.col("x_a") + F.col("x_b") - F.col("exact_inter")
    return out.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.round(F.col("e_union"), 6).alias("est_union_r6"),
        exact_union.cast("long").alias("exact_union"),
        F.round(e_inter, 6).alias("est_inter_r6"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
        F.round(e_inter / F.col("e_union"), 6).alias("est_jaccard_r6"),
        F.round(
            F.col("exact_inter").cast("double")
            / exact_union.cast("double"),
            6,
        ).alias("exact_jaccard_r6"),
    ).orderBy("type_a", "type_b")


def hll_source_overlap_sql() -> str:
    """Twin of hll_source_overlap: identical register algebra and
    inclusion-exclusion double sequence."""
    return f"""
    WITH {_hll_regs_sql("regs", "user_id", "events", "event_type")},
    est_t AS MATERIALIZED (
        SELECT event_type, est AS e
        FROM ({_hll_fold_sql("regs", "event_type")})
    ),
    pairs AS (
        SELECT a.event_type AS ta, b.event_type AS tb
        FROM (SELECT DISTINCT event_type FROM regs) a
        JOIN (SELECT DISTINCT event_type FROM regs) b
          ON a.event_type < b.event_type
    ),
    union_regs AS (
        SELECT p.ta, p.tb, r.idx, max(r.mrho) AS mrho
        FROM pairs p
        JOIN regs r ON r.event_type = p.ta OR r.event_type = p.tb
        GROUP BY 1, 2, 3
    ),
    union_est AS (
        SELECT ta, tb, est AS e_union
        FROM ({_hll_fold_sql("union_regs", "ta", "tb")})
    ),
    ut AS MATERIALIZED (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    exact_t AS MATERIALIZED (
        SELECT event_type, CAST(count(*) AS BIGINT) AS nx
        FROM ut GROUP BY 1
    ),
    exact_pair AS (
        SELECT x.event_type AS ta, y.event_type AS tb,
               CAST(count(*) AS BIGINT) AS exact_inter
        FROM ut x JOIN ut y
          ON x.user_id = y.user_id AND x.event_type < y.event_type
        GROUP BY 1, 2
    )
    SELECT u.ta AS type_a, u.tb AS type_b,
           round(u.e_union, 6) AS est_union_r6,
           CAST(xa.nx + xb.nx - coalesce(ep.exact_inter, 0) AS BIGINT)
               AS exact_union,
           round(greatest(ea.e + eb.e - u.e_union, 0.0), 6)
               AS est_inter_r6,
           CAST(coalesce(ep.exact_inter, 0) AS BIGINT) AS exact_inter,
           round(greatest(ea.e + eb.e - u.e_union, 0.0) / u.e_union, 6)
               AS est_jaccard_r6,
           round(CAST(coalesce(ep.exact_inter, 0) AS DOUBLE)
                 / CAST(xa.nx + xb.nx - coalesce(ep.exact_inter, 0)
                        AS DOUBLE), 6) AS exact_jaccard_r6
    FROM union_est u
    JOIN est_t ea ON ea.event_type = u.ta
    JOIN est_t eb ON eb.event_type = u.tb
    JOIN exact_t xa ON xa.event_type = u.ta
    JOIN exact_t xb ON xb.event_type = u.tb
    LEFT JOIN exact_pair ep ON ep.ta = u.ta AND ep.tb = u.tb
    ORDER BY type_a, type_b
    """


# ---------------------------------------------------------------------------
# HLL rollup-merge audit (the mergeability proof as a query)
# ---------------------------------------------------------------------------


def hll_rollup_merge(t: dict[str, DataFrame]) -> DataFrame:
    """The property that makes sketches THE 100 TB distinct-count
    design — register-max mergeability — proven as a query: build one
    HLL register relation PER DAY (what an incremental pipeline
    materializes alongside each partition), merge the daily sketches by
    max(rho), and check the merged registers are IDENTICAL to the
    registers built directly over the whole corpus (max is associative,
    so mismatched_registers must be 0 — pinned by a planted test).
    Beside it: the naive Σ of per-day estimates (what you must NOT do —
    returning users double-count) and the exact answer with the merged
    estimate's error.

    Scale shape: the daily register relations are ≤ m rows per day
    regardless of volume; every fold after the first groupBy runs on
    register- or day-cardinality metadata with ONE-ROW broadcasts.
    Output: one row.
    """
    ev = t["events"]
    uid = F.col("user_id").cast("long")
    regs_day = _hll_registers(ev, uid, F.to_date("ts").alias("d"))
    merged = regs_day.groupBy("idx").agg(F.max("mrho").alias("mrho"))
    direct = _hll_registers(ev, uid)

    daily_sum = _hll_fold(regs_day, "d").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(F.sum("est"), 6).alias("sum_daily_est"),
    )
    merged_est = _hll_fold(merged).select(
        F.round(F.col("est"), 6).alias("merged_est")
    )
    mism = (
        merged.select("idx", F.col("mrho").alias("a"))
        .join(direct.select("idx", F.col("mrho").alias("b")), "idx", "full")
        .filter(
            F.coalesce(F.col("a"), F.lit(-1))
            != F.coalesce(F.col("b"), F.lit(-1))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("mismatched_registers"))
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    out = (
        daily_sum.crossJoin(F.broadcast(merged_est))
        .crossJoin(F.broadcast(mism))
        .crossJoin(F.broadcast(exact))
    )
    err_bp = (
        F.abs(F.col("merged_est") - F.col("exact_users").cast("double"))
        * 10000.0
        / F.col("exact_users")
    )
    return out.select(
        "n_days",
        "sum_daily_est",
        "merged_est",
        "mismatched_registers",
        "exact_users",
        F.floor(err_bp + F.lit(0.5)).cast("long").alias("merged_err_bp"),
    )


def hll_rollup_merge_sql() -> str:
    """Twin: identical hash/rho/register algebra at each level."""
    by_day = "(SELECT user_id, CAST(ts AS DATE) AS d FROM events)"
    return f"""
    WITH {_hll_regs_sql("regs_day", "user_id", by_day, "d")},
    merged AS MATERIALIZED (
        SELECT idx, max(mrho) AS mrho FROM regs_day GROUP BY idx
    ),
    {_hll_regs_sql("direct", "user_id", "events")},
    daily AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               round(sum(est), 6) AS sum_daily_est
        FROM ({_hll_fold_sql("regs_day", "d")})
    ),
    mest AS (
        SELECT round(est, 6) AS merged_est FROM ({_hll_fold_sql("merged")})
    ),
    mism AS (
        SELECT CAST(count(*) AS BIGINT) AS mismatched_registers
        FROM merged m FULL OUTER JOIN direct x ON m.idx = x.idx
        WHERE coalesce(m.mrho, -1) != coalesce(x.mrho, -1)
    ),
    exact AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events
    )
    SELECT d.n_days, d.sum_daily_est, e.merged_est, m.mismatched_registers,
           x.exact_users,
           CAST(floor(abs(e.merged_est - x.exact_users) * 10000.0
               / x.exact_users + 0.5) AS BIGINT) AS merged_err_bp
    FROM daily d, mest e, mism m, exact x
    """


# ---------------------------------------------------------------------------
# CMS accuracy audit (exact vs sketch, whole vocabulary)
# ---------------------------------------------------------------------------


def cms_error_audit(docs: DataFrame) -> DataFrame:
    """Grades the count-min sketch against exact counts over the WHOLE
    vocabulary — the sketch-accuracy twin of ``minhash_estimate_error``
    (every sketch this engine ships gets an error audit before anyone
    trusts it at 100 TB), on the same CMS_D x CMS_W grid every CMS
    query here builds.

    Output, one row per log2(true count) bucket: (bucket, n_words,
    n_exact, sum_overest, max_overest) — n_exact counts words the
    sketch estimates EXACTLY; overestimate = est − true ≥ 0 (CMS never
    underestimates — that invariant is also pinned per-row here by
    sum/max being non-negative). All exact integers; bucket =
    floor(log2(cnt)) computed as length(bin(cnt)) − 1 on both engines
    (no float log near power-of-two edges).

    Scale shape: one token-stream pass builds the D×W grid (map-side
    partial aggs), the vocabulary relation probes D cells each through
    a broadcast of the fixed-size grid; output is ~64 rows.
    """
    from ..functions import rolling_hash

    words = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("w")
    ).filter(F.col("w") != "")
    hashed = words.select("w", rolling_hash(F.col("w")).alias("h"))

    grid = _cms_cells(hashed).groupBy("d", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vocab = hashed.groupBy("w", "h").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    est = (
        _cms_cells(vocab, "w", "true_cnt")
        .join(F.broadcast(grid), ["d", "b"])
        .groupBy("w", "true_cnt")
        .agg(F.min("c").cast("long").alias("est"))
    )
    overest = F.col("est") - F.col("true_cnt")
    return (
        est.select(
            (F.length(F.bin("true_cnt")) - 1).cast("long").alias("bucket"),
            overest.alias("o"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum((F.col("o") == 0).cast("long")).cast("long").alias("n_exact"),
            F.sum("o").cast("long").alias("sum_overest"),
            F.max("o").cast("long").alias("max_overest"),
        )
        .orderBy("bucket")
    )


def cms_error_audit_sql() -> str:
    """Twin: same grid/probe CTEs as cms_word_estimates_sql minus the
    LIMIT, bucketed by length(bin(cnt))−1, identical folds."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="w")
    return f"""
    WITH words AS (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    hashed AS (SELECT w, {h} AS h FROM words WHERE w != ''),
    grid AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS c
        FROM ({_cms_cells_sql("hashed")}) GROUP BY d, b
    ),
    vocab AS (
        SELECT w, h, CAST(count(*) AS BIGINT) AS true_cnt
        FROM hashed GROUP BY w, h
    ),
    est AS (
        SELECT p.w, p.true_cnt, CAST(min(g.c) AS BIGINT) AS est
        FROM ({_cms_cells_sql("vocab", "w", "true_cnt")}) p
        JOIN grid g USING (d, b)
        GROUP BY p.w, p.true_cnt
    )
    SELECT CAST(length(bin(true_cnt)) - 1 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(coalesce(sum(CASE WHEN est = true_cnt THEN 1 END), 0)
                AS BIGINT) AS n_exact,
           CAST(sum(est - true_cnt) AS BIGINT) AS sum_overest,
           CAST(max(est - true_cnt) AS BIGINT) AS max_overest
    FROM est
    GROUP BY 1 ORDER BY bucket
    """


def cms_rollup_merge(t: dict[str, DataFrame]) -> DataFrame:
    """The CMS mergeability proof, completing the sketch-merge triple
    (HLL merges by register MAX — ``hll_rollup_merge``; histograms by
    bin SUM — ``events_histogram_quantiles``; CMS by cell SUM — this):
    build one CMS grid PER SOURCE (the block an incremental pipeline
    materializes next to each partition), merge by cell-wise addition,
    and verify the merged grid is IDENTICAL to the grid built directly
    over the whole corpus — mismatched_cells must be 0 (full-outer
    cell comparison, so a cell present on one side only also counts).
    Beside it: the top-1 heavy hitter's estimate from the merged grid,
    from the direct grid, and its true count (merged est == direct est,
    both >= true — the CMS contract survives the rollup).

    Scale shape: per-source grids are <= D·W cells each regardless of
    volume; every fold after the (source, d, b) groupBy runs on
    grid-sized metadata with ONE-ROW broadcasts. Output: one row.
    """
    from ..functions import rolling_hash

    docs = t["documents"]
    hashed = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .select("source", "w", rolling_hash(F.col("w")).alias("h"))
    )
    rows = _cms_cells(hashed, "source")
    per_src = rows.groupBy("source", "d", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    merged = per_src.groupBy("d", "b").agg(
        F.sum("c").cast("long").alias("c")
    )
    direct = rows.groupBy("d", "b").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cmp = merged.withColumnRenamed("c", "cm").join(
        direct.withColumnRenamed("c", "cd"), ["d", "b"], "full_outer"
    )
    audit = cmp.agg(
        F.count(F.lit(1)).cast("long").alias("cells"),
        F.sum(
            (
                F.coalesce("cm", F.lit(-1)) != F.coalesce("cd", F.lit(-2))
            ).cast("int")
        )
        .cast("long")
        .alias("mismatched_cells"),
    )
    top1 = (
        hashed.groupBy("w", "h")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("w"))
        .limit(1)
    )
    probe = _cms_cells(top1, "w", "true_cnt")
    est_m = (
        probe.join(F.broadcast(merged), ["d", "b"])
        .groupBy("w", "true_cnt")
        .agg(F.min("c").cast("long").alias("est_merged"))
    )
    est_d = (
        probe.join(F.broadcast(direct), ["d", "b"])
        .groupBy("w", "true_cnt")
        .agg(F.min("c").cast("long").alias("est_direct"))
    )
    n_src = docs.agg(
        F.count_distinct("source").cast("long").alias("n_sources")
    )
    return (
        n_src.crossJoin(F.broadcast(audit))
        .crossJoin(F.broadcast(est_m.join(est_d, ["w", "true_cnt"])))
        .select(
            "n_sources",
            "cells",
            "mismatched_cells",
            F.col("w").alias("top_word"),
            "true_cnt",
            "est_merged",
            "est_direct",
        )
    )


def cms_rollup_merge_sql() -> str:
    """Twin: identical hash/bucket algebra at each level."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="w")
    return f"""
    WITH words AS (
        SELECT source, unnest(string_split(lower(text), ' ')) AS w
        FROM documents
    ),
    hashed AS (SELECT source, w, {h} AS h FROM words WHERE w != ''),
    rows_rel AS ({_cms_cells_sql("hashed", "source")}),
    per_src AS (
        SELECT source, d, b, CAST(count(*) AS BIGINT) AS c
        FROM rows_rel GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT d, b, CAST(sum(c) AS BIGINT) AS c FROM per_src GROUP BY d, b
    ),
    direct AS (
        SELECT d, b, CAST(count(*) AS BIGINT) AS c FROM rows_rel GROUP BY d, b
    ),
    audit AS (
        SELECT CAST(count(*) AS BIGINT) AS cells,
               CAST(sum(CASE WHEN coalesce(m.c, -1) <> coalesce(dd.c, -2)
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS mismatched_cells
        FROM merged m FULL OUTER JOIN direct dd USING (d, b)
    ),
    top1 AS (
        SELECT w, h, CAST(count(*) AS BIGINT) AS true_cnt
        FROM hashed GROUP BY w, h
        ORDER BY true_cnt DESC, w ASC LIMIT 1
    ),
    probe AS ({_cms_cells_sql("top1", "w", "true_cnt")}),
    est_m AS (
        SELECT p.w, p.true_cnt, CAST(min(m.c) AS BIGINT) AS est_merged
        FROM probe p JOIN merged m USING (d, b) GROUP BY 1, 2
    ),
    est_d AS (
        SELECT p.w, p.true_cnt, CAST(min(dd.c) AS BIGINT) AS est_direct
        FROM probe p JOIN direct dd USING (d, b) GROUP BY 1, 2
    ),
    ns AS (
        SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources
        FROM documents
    )
    SELECT ns.n_sources, a.cells, a.mismatched_cells,
           em.w AS top_word, em.true_cnt, em.est_merged, ed.est_direct
    FROM ns CROSS JOIN audit a
    CROSS JOIN est_m em
    JOIN est_d ed ON ed.w = em.w AND ed.true_cnt = em.true_cnt
    """


# ---------------------------------------------------------------------------
# register-HLL re-basings of the DataSketches rows-only queries (round 8)
# ---------------------------------------------------------------------------

# Round-7 VERDICT item: `sketch_user_stats` and
# `data_profile_lineitem_approx` were rows-only because they estimated
# with DataSketches HLL (engine-specific serialization). The engine
# already owns a bit-exact explicit-register HLL (above) whose estimate
# a DuckDB twin reproduces to the last bit — so the two registered
# queries re-base onto it and graduate to full oracle checks, leaving
# only the genuinely engine-specific pair (zlib compression_ratio,
# codec media_near_dups) rows-only. The DataSketches variants
# (`approx_user_stats`, `validation.profile_columns(approx=True)`)
# remain in-tree as documented alternates with their own planted tests:
# at 100 TB you would prefer DataSketches' denser packed registers; the
# register-HLL tier trades ~4 KB/group vs ~1 KB for cross-engine
# verifiability at identical asymptotics (fixed-size mergeable state,
# one shuffle of registers, never of values).


def user_stats_register_hll(t: dict[str, DataFrame]) -> DataFrame:
    """Per-event-type approximate distinct users (engine-owned
    register HLL, deterministic cross-engine) next to the event count —
    the oracle-checkable re-basing of the DataSketches
    `approx_user_stats` dashboard aggregate.

    Scale shape: one groupBy to (type, register) — ≤ m rows per type
    regardless of volume — plus the per-type count rollup; registers
    are the mergeable incremental state.
    """
    ev = t["events"]
    regs = _hll_registers(ev, F.col("user_id").cast("long"), "event_type")
    est = _hll_fold(regs, "event_type")
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return (
        counts.join(est, "event_type")
        .select(
            "event_type",
            F.round("est", 6).alias("approx_users_r6"),
            "n_events",
        )
        .orderBy("event_type")
    )


def user_stats_register_hll_sql() -> str:
    """Twin: identical hash, rho chain, register fold, double formula."""
    return f"""
    WITH {_hll_regs_sql("regs", "user_id", "events", "event_type")},
    est AS ({_hll_fold_sql("regs", "event_type")}),
    counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1
    )
    SELECT c.event_type, round(p.est, 6) AS approx_users_r6, c.n_events
    FROM counts c JOIN est p ON p.event_type = c.event_type
    ORDER BY c.event_type
    """


# Canonical value->long mappings per Spark dtype for the HLL column
# profile. Each is deterministic and IDENTICAL in Spark and DuckDB
# (pure integer/IEEE-double ops), so the estimate — not just its error
# bound — is oracle-checkable. Resolution trades are explicit and
# engine-symmetric: doubles collapse below cent resolution, timestamps
# to days, strings to their 10^9+7 rolling hash (the same hash every
# dedup fingerprint uses).
_PROFILE_KIND = {
    "bigint": "int", "int": "int", "smallint": "int", "tinyint": "int",
    "double": "cents", "float": "cents",
    "string": "hash",
    "timestamp": "date", "timestamp_ntz": "date", "date": "date",
}


def _profile_canon_spark(c: str, kind: str):
    from ..functions import rolling_hash

    col = F.col(c)
    if kind == "int":
        return col.cast("long")
    if kind == "cents":
        return F.floor(col * 100.0 + F.lit(0.5)).cast("long")
    if kind == "date":
        return F.datediff(F.to_date(col), F.lit("1970-01-01")).cast("long")
    return rolling_hash(col)


def _profile_canon_sql(c: str, kind: str) -> str:
    from .oracle import ROLLING_HASH

    if kind == "int":
        return f"CAST({c} AS BIGINT)"
    if kind == "cents":
        return f"CAST(floor({c} * 100.0 + 0.5) AS BIGINT)"
    if kind == "date":
        return (
            f"CAST(datediff('day', DATE '1970-01-01', CAST({c} AS DATE)) "
            "AS BIGINT)"
        )
    return ROLLING_HASH.format(s=c)


_PROFILE_ROUND = 2  # numeric min/max rounding, matching validation.ROUND


def hll_column_profile(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Approximate per-column profile — the 100 TB scale sibling of
    ``validation.profile_columns``: (col_name, n_rows, n_nulls,
    n_distinct_est_r6, min_num, max_num), with the distinct count from
    the engine-owned register HLL instead of the Expand-based exact
    ``count_distinct``.

    Scale shape: TWO aggregation jobs over one scan — the 1-row
    base-stats fold (counts/nulls/min/max, identical to the exact
    profile minus its k-times Expand) and one explode to (col, canon)
    pairs that partial-aggregates to ≤ |cols| x m register rows
    map-side. Nothing row-sized ever shuffles; per-column state is a
    fixed ~4 KB register block however many rows the table has.
    """
    cols = cols or df.columns
    dtypes = dict(df.dtypes)
    kinds = {c: _PROFILE_KIND.get(dtypes.get(c, ""), "hash") for c in cols}

    # registers: one explode pass -> (col, idx, mrho)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("c"),
                _profile_canon_spark(c, kinds[c]).alias("v"),
            )
            for c in cols
        ]
    )
    vals = (
        df.select(F.explode(entries).alias("e"))
        .select(F.col("e.c").alias("c"), F.col("e.v").alias("v"))
        .filter(F.col("v").isNotNull())
    )
    p1 = F.lit(HLL_P1)
    vn = ((F.col("v") % p1) + p1) % p1
    est = _hll_fold(_hll_registers(vals, vn, "c"), "c").select(
        F.col("c").alias("col_name"), F.round("est", 6).alias("n_distinct_est_r6")
    )

    # base stats: the exact profile's single-row fold minus count_distinct
    numeric = {c for c in cols if kinds[c] in ("int", "cents")}
    aggs = [F.count(F.lit(1)).cast("long").alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).cast("long").alias(f"__nulls_{c}")
        )
        if c in numeric:
            aggs.append(
                F.round(F.min(F.col(c)).cast("double"), _PROFILE_ROUND).alias(
                    f"__min_{c}"
                )
            )
            aggs.append(
                F.round(F.max(F.col(c)).cast("double"), _PROFILE_ROUND).alias(
                    f"__max_{c}"
                )
            )
    row = df.agg(*aggs)
    structs = []
    for c in cols:
        is_num = c in numeric
        structs.append(
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                (
                    F.col(f"__min_{c}") if is_num else F.lit(None).cast("double")
                ).alias("min_num"),
                (
                    F.col(f"__max_{c}") if is_num else F.lit(None).cast("double")
                ).alias("max_num"),
            )
        )
    base = row.select(F.inline(F.array(*structs)))
    return (
        base.join(est, "col_name", "left")
        .select(
            "col_name", "n_rows", "n_nulls", "n_distinct_est_r6",
            "min_num", "max_num",
        )
        .orderBy("col_name")
    )


def hll_column_profile_sql(
    table: str, kinds: dict[str, str]
) -> str:
    """Twin of hll_column_profile: per column, the identical canon ->
    normalize -> mix -> register fold -> estimate chain, UNION ALL'd."""
    ctes, rows = [], []
    for c, kind in kinds.items():
        canon = _profile_canon_sql(c, kind)
        vn = f"((({canon}) % {HLL_P1}) + {HLL_P1}) % {HLL_P1}"
        ctes.append(f"""
    {_hll_regs_sql(f"g_{c}", f"({vn})", f"{table} WHERE {c} IS NOT NULL")},
    e_{c} AS (
        SELECT round(est, 6) AS est FROM ({_hll_fold_sql(f"g_{c}")})
    )""")
        is_num = kind in ("int", "cents")
        mn = (
            f"round(CAST(min({c}) AS DOUBLE), {_PROFILE_ROUND})"
            if is_num
            else "CAST(NULL AS DOUBLE)"
        )
        mx = (
            f"round(CAST(max({c}) AS DOUBLE), {_PROFILE_ROUND})"
            if is_num
            else "CAST(NULL AS DOUBLE)"
        )
        rows.append(
            f"SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS n_nulls, "
            f"(SELECT est FROM e_{c}) AS n_distinct_est_r6, "
            f"{mn} AS min_num, {mx} AS max_num FROM {table}"
        )
    body = ",".join(ctes)
    union = "\n    UNION ALL\n    ".join(rows)
    return f"""
    WITH {body}
    SELECT * FROM ({union})
    ORDER BY col_name
    """


# ---------------------------------------------------------------------------
# mergeable quantile sketch: deterministic bottom-k sample (round 9)
# ---------------------------------------------------------------------------

# distinct avalanche seed for the quantile sample (same mix family as
# the HLL seeds; sharing a seed with another sketch would correlate
# the sample with that sketch's buckets)
QSK_SEED = (421_867_441, 868_864_297, 1_013_904_223 % HLL_P1, 97_531_333)
QSK_K = 256
QSK_Q_BP = (2500, 5000, 7500, 9000, 9900)


def quantile_bottomk_merge(t: dict[str, DataFrame]) -> DataFrame:
    """Mergeable QUANTILE sketch, completing the sketch family's
    rollup-merge proofs (HLL = distinct, CMS = frequency, KMV =
    similarity, this = distribution): a deterministic uniform sample
    of K rows taken as the BOTTOM-K by an avalanched hash of the row
    id — the KMV idea pointed at values instead of set membership.
    Bottom-k is a monoid (bottom-k of a union of per-partition
    bottom-k's IS the global bottom-k: any globally-smallest-K element
    is in particular among its own partition's smallest K), so daily
    sketches merge EXACTLY — the query builds the per-day sketches,
    merges them, builds the direct global sketch, and proves
    mismatched_rows == 0, the same shape as ``hll_rollup_merge``.
    Quantile estimates read the sample at rank ceil(q·k): the sample
    is hash-uniform, so the sample quantile estimates the population
    quantile with the standard bottom-k error; the exact quantiles
    (via ``distrank.with_global_order`` at rank ceil(q·n)) sit beside
    them with the realized error.

    Determinism: hash, tiebreaks (h, event_id), cents rounding, and
    both rank rules are total orders — bit-identical on both engines.

    Scale shape: per-day bottom-k is a day-partitioned window (hash
    partitioning, no global sort); the direct and merged global
    bottom-k are sort+limit (TakeOrderedAndProject — K rows reach the
    driver-side stage, never the data); everything after runs on
    ≤ K·|days| rows of sketch metadata; exact quantiles use the
    range-partitioned exact-rank pattern.

    Output: one row per q_bp — (q_bp, sketch_rows, est_c, exact_c,
    abs_err_c, mismatched_rows).
    """
    from pyspark.sql import Window

    from .distrank import with_global_order

    ev = t["events"]
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    base = ev.select(
        F.to_date("ts").alias("d"),
        F.col("event_id").cast("long").alias("rid"),
        cents.alias("c"),
    ).withColumn("h", _hll_mix_spark(F.col("rid"), QSK_SEED))

    w_day = Window.partitionBy("d").orderBy("h", "rid")
    per_day = base.withColumn("rn", F.row_number().over(w_day)).filter(
        F.col("rn") <= QSK_K
    ).select("h", "rid", "c")
    merged = per_day.orderBy("h", "rid").limit(QSK_K)
    direct = base.select("h", "rid", "c").orderBy("h", "rid").limit(QSK_K)

    mism = (
        merged.select("h", "rid", F.col("c").alias("ca"))
        .join(
            direct.select("h", "rid", F.col("c").alias("cb")),
            ["h", "rid"],
            "full",
        )
        .filter(
            F.coalesce(F.col("ca"), F.lit(-(1 << 62)))
            != F.coalesce(F.col("cb"), F.lit(-(1 << 62)))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("mismatched_rows"))
    )

    w_val = Window.orderBy("c", "rid")  # <= K rows: metadata window
    sample = merged.withColumn("vr", F.row_number().over(w_val))
    k_rel = sample.agg(F.count(F.lit(1)).cast("long").alias("k_rows"))
    qs = ev.sparkSession.createDataFrame(
        [(q,) for q in QSK_Q_BP], "q_bp long"
    )
    targets = qs.crossJoin(F.broadcast(k_rel)).select(
        "q_bp",
        "k_rows",
        F.greatest(
            F.lit(1),
            F.floor((F.col("q_bp") * F.col("k_rows") + 9999) / 10000),
        )
        .cast("int")
        .alias("vr"),
    )
    est = targets.join(sample.select("vr", F.col("c").alias("est_c")), "vr")

    ranked, n, _ = with_global_order(
        base.select("c", "rid"), ["c", "rid"]
    )
    if ranked is None:
        return ev.sparkSession.createDataFrame(
            [],
            "q_bp long, sketch_rows long, est_c long, exact_c long, "
            "abs_err_c long, mismatched_rows long",
        )
    exact_targets = {
        q: max(1, (q * n + 9999) // 10000) for q in QSK_Q_BP
    }
    # A (rank, q_bp) relation, not a map literal: on tiny inputs two
    # q_bp values can share the same exact rank, and a duplicate-keyed
    # F.create_map throws under Spark's default
    # spark.sql.mapKeyDedupPolicy=EXCEPTION while the SQL twin's join
    # happily fans out — the join shape matches the oracle exactly.
    tdf = ev.sparkSession.createDataFrame(
        [(q, r) for q, r in sorted(exact_targets.items())],
        "q_bp long, r long",
    )
    exact = ranked.join(
        F.broadcast(tdf), (F.col("grank") + 1) == F.col("r")
    ).select("q_bp", F.col("c").alias("exact_c"))
    out = (
        est.join(exact, "q_bp")
        .crossJoin(F.broadcast(mism))
        .select(
            "q_bp",
            F.col("k_rows").alias("sketch_rows"),
            "est_c",
            "exact_c",
            F.abs(F.col("est_c") - F.col("exact_c"))
            .cast("long")
            .alias("abs_err_c"),
            "mismatched_rows",
        )
        .orderBy("q_bp")
    )
    return out


def quantile_bottomk_merge_sql() -> str:
    """Twin: identical hash, bottom-k, rank arithmetic at each level."""
    h = _hll_mix_sql("rid", QSK_SEED)
    q_values = ", ".join(f"({q})" for q in QSK_Q_BP)
    return f"""
    WITH base AS (
        SELECT date_trunc('day', ts) AS d,
               CAST(event_id AS BIGINT) AS rid,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
        FROM events
    ),
    hashed AS (SELECT d, rid, c, {h} AS h FROM base),
    per_day AS (
        SELECT h, rid, c FROM (
            SELECT h, rid, c,
                   row_number() OVER (PARTITION BY d ORDER BY h, rid)
                       AS rn
            FROM hashed
        ) WHERE rn <= {QSK_K}
    ),
    merged AS (
        SELECT h, rid, c FROM per_day ORDER BY h, rid LIMIT {QSK_K}
    ),
    direct AS (
        SELECT h, rid, c FROM hashed ORDER BY h, rid LIMIT {QSK_K}
    ),
    mism AS (
        SELECT CAST(count(*) AS BIGINT) AS mismatched_rows
        FROM merged m FULL JOIN direct x
          ON m.h = x.h AND m.rid = x.rid
        WHERE coalesce(m.c, -4611686018427387904)
              != coalesce(x.c, -4611686018427387904)
    ),
    sample AS (
        SELECT c, row_number() OVER (ORDER BY c, rid) AS vr FROM merged
    ),
    k_rel AS (SELECT CAST(count(*) AS BIGINT) AS k_rows FROM sample),
    qs(q_bp) AS (VALUES {q_values}),
    targets AS (
        SELECT CAST(q_bp AS BIGINT) AS q_bp, k_rows,
               greatest(1, (q_bp * k_rows + 9999) // 10000) AS vr
        FROM qs CROSS JOIN k_rel
    ),
    est AS (
        SELECT t.q_bp, t.k_rows, s.c AS est_c
        FROM targets t JOIN sample s ON s.vr = t.vr
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c, rid) AS gr FROM base
    ),
    n_rel AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
    exact AS (
        SELECT CAST(q.q_bp AS BIGINT) AS q_bp, r.c AS exact_c
        FROM qs q CROSS JOIN n_rel
        JOIN ranked r
          ON r.gr = greatest(1, (q.q_bp * n + 9999) // 10000)
    )
    SELECT e.q_bp,
           e.k_rows AS sketch_rows,
           e.est_c,
           x.exact_c,
           CAST(abs(e.est_c - x.exact_c) AS BIGINT) AS abs_err_c,
           m.mismatched_rows
    FROM est e JOIN exact x ON e.q_bp = x.q_bp
    CROSS JOIN mism m
    ORDER BY e.q_bp
    """


# two-significant-decimal-digit digest: bucket width = 10^(digits-2),
# so every estimate's relative error is < 10% by construction
HDR_Q_BP = (2500, 5000, 7500, 9000, 9900)


def hdr_quantile_audit(t: dict[str, DataFrame]) -> DataFrame:
    """HDR-histogram-style RELATIVE-error quantile digest with a
    certified per-estimate error bound — the 100 TB default tier next
    to the exact bottom-k sample (``quantile_bottomk_merge``) and the
    fixed-absolute-width histogram (``events_histogram_quantiles``).
    Fixed-width bins give absolute error (too coarse at the low end of
    a multi-decade domain, or an exploding bin count); this digest
    buckets the cents lattice by its top TWO significant decimal
    digits — ``divisor = 10^max(digits-2, 0)``, ``lb = u - u mod
    divisor`` — so bucket width is 10% of magnitude everywhere and the
    grid stays <= 90 buckets per decade at ANY scale. Unlike
    GK/t-digest/``percentile_approx`` (engine-specific internals, no
    cross-engine twin possible), the bucket rule is pure integer/string
    arithmetic — bit-identical on Spark and DuckDB, so the WHOLE digest
    is oracle-gated, not just invariant-tested.

    Mergeability proof, same shape as ``hll_rollup_merge`` /
    ``cms_rollup_merge``: per-day digests merge by bucket-count SUM;
    the query builds both the merged and the direct digest and emits
    mismatched_cells (must be 0, full-outer cell compare). Quantile
    reads take the lower edge of the first bucket whose cumulative
    count reaches rank ceil(q_bp·n/10000) (exact integer arithmetic,
    no doubles); since that rank falls INSIDE the chosen bucket, the
    true quantile lies in [est_c, ub_c] and the emitted
    rel_err_bp_bound = floor(10000·(divisor-1)/lb) < 1000 CERTIFIES
    the <10% relative error per row — the audit needs no exact-tier
    rescan.

    Scale shape: one narrow scan -> (day, type, bucket) partial-agg
    groupBys; every window is PARTITIONED by event_type over
    |occupied buckets| rows (bounded by the grid, not the data); the
    q relation and the 1-row mismatch count are broadcasts.

    Output: (event_type, q_bp, n_total, est_c, ub_c, rel_err_bp_bound,
    within_10pct, mismatched_cells) per type x quantile.
    """
    from pyspark.sql import Window

    ev = t["events"]
    # nonnegative lattice only: the digit-count bucket rule is
    # sign-unaware (a '-' would inflate length and misplace the
    # bucket), and a NULL lb would ORDER differently in the cumulative
    # window (Spark NULLS FIRST vs DuckDB NULLS LAST) — both engines
    # drop the same rows, so the digest stays oracle-gated
    base = ev.select(
        F.to_date("ts").alias("d"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("u"),
    ).filter(F.col("u") >= 0)
    bucketed = base.withColumn(
        "divisor",
        F.expr(
            "CAST(concat('1', repeat('0', "
            "greatest(length(CAST(u AS STRING)) - 2, 0))) AS BIGINT)"
        ),
    ).select(
        "d",
        "event_type",
        (F.col("u") - F.col("u") % F.col("divisor")).alias("lb"),
        "divisor",
    )
    per_day = bucketed.groupBy("d", "event_type", "lb", "divisor").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    merged = per_day.groupBy("event_type", "lb", "divisor").agg(
        F.sum("n").cast("long").alias("n")
    )
    direct = bucketed.groupBy("event_type", "lb").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    mism = (
        merged.select("event_type", "lb", F.col("n").alias("na"))
        .join(direct.withColumnRenamed("n", "nb"), ["event_type", "lb"],
              "full")
        .filter(
            F.coalesce(F.col("na"), F.lit(-1))
            != F.coalesce(F.col("nb"), F.lit(-1))
        )
        .agg(F.count(F.lit(1)).cast("long").alias("mismatched_cells"))
    )

    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("lb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("event_type")
    cum = merged.select(
        "event_type",
        "lb",
        "divisor",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_tot).alias("total"),
    )
    qdf = ev.sparkSession.createDataFrame(
        [(q,) for q in HDR_Q_BP], "q_bp long"
    )
    sel = (
        cum.crossJoin(F.broadcast(qdf))
        .filter(
            F.col("cum") >= F.expr("(q_bp * total + 9999) div 10000")
        )
        .groupBy("event_type", "q_bp")
        .agg(F.min(F.struct("lb", "divisor", "total")).alias("s"))
        .select(
            "event_type",
            "q_bp",
            F.col("s.total").alias("n_total"),
            F.col("s.lb").alias("est_c"),
            (F.col("s.lb") + F.col("s.divisor") - 1).alias("ub_c"),
            F.when(
                F.col("s.lb") > 0,
                F.floor(
                    (F.col("s.divisor") - 1).cast("double")
                    * 10000.0
                    / F.col("s.lb")
                ).cast("long"),
            )
            .otherwise(F.lit(0))
            .alias("rel_err_bp_bound"),
        )
        .withColumn("within_10pct", F.col("rel_err_bp_bound") < 1000)
    )
    return sel.crossJoin(F.broadcast(mism)).orderBy("event_type", "q_bp")


def hdr_quantile_audit_sql() -> str:
    """Twin: identical lattice, bucket rule, rank arithmetic, merge."""
    q_values = ", ".join(f"({q})" for q in HDR_Q_BP)
    return f"""
    WITH base AS (
        SELECT date_trunc('day', ts) AS d,
               event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS u
        FROM events
        WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) >= 0
    ),
    bucketed AS (
        SELECT d, event_type,
               u - u % divisor AS lb, divisor
        FROM (
            SELECT d, event_type, u,
                   CAST('1' || repeat('0',
                        greatest(length(CAST(u AS VARCHAR)) - 2, 0))
                        AS BIGINT) AS divisor
            FROM base
        )
    ),
    per_day AS (
        SELECT d, event_type, lb, divisor,
               CAST(count(*) AS BIGINT) AS n
        FROM bucketed GROUP BY 1, 2, 3, 4
    ),
    merged AS (
        SELECT event_type, lb, divisor, CAST(sum(n) AS BIGINT) AS n
        FROM per_day GROUP BY 1, 2, 3
    ),
    direct AS (
        SELECT event_type, lb, CAST(count(*) AS BIGINT) AS n
        FROM bucketed GROUP BY 1, 2
    ),
    mism AS (
        SELECT CAST(count(*) AS BIGINT) AS mismatched_cells
        FROM merged m FULL JOIN direct g
          ON m.event_type = g.event_type AND m.lb = g.lb
        WHERE coalesce(m.n, -1) != coalesce(g.n, -1)
    ),
    cum AS (
        SELECT event_type, lb, divisor,
               sum(n) OVER (PARTITION BY event_type ORDER BY lb)
                   AS cum,
               sum(n) OVER (PARTITION BY event_type) AS total
        FROM merged
    ),
    qs(q_bp) AS (VALUES {q_values}),
    sel AS (
        -- min(lb) picks the first qualifying bucket; its divisor is
        -- re-derived from lb's digit count (truncation preserves the
        -- digit count, so digits(lb) == digits(u))
        SELECT event_type, CAST(q_bp AS BIGINT) AS q_bp,
               CAST(min(total) AS BIGINT) AS n_total,
               min(lb) AS est_c
        FROM cum CROSS JOIN qs
        WHERE cum >= (q_bp * total + 9999) // 10000
        GROUP BY 1, 2
    ),
    sel2 AS (
        SELECT event_type, q_bp, n_total, est_c,
               CAST('1' || repeat('0',
                    greatest(length(CAST(est_c AS VARCHAR)) - 2, 0))
                    AS BIGINT) AS divisor
        FROM sel
    ),
    sel3 AS (
        SELECT event_type, q_bp, n_total, est_c,
               est_c + divisor - 1 AS ub_c,
               CASE WHEN est_c > 0
                    THEN CAST(floor(CAST(divisor - 1 AS DOUBLE)
                                    * 10000.0 / est_c) AS BIGINT)
                    ELSE 0 END AS rel_err_bp_bound
        FROM sel2
    )
    SELECT s.event_type, s.q_bp, s.n_total, s.est_c, s.ub_c,
           s.rel_err_bp_bound,
           s.rel_err_bp_bound < 1000 AS within_10pct,
           m.mismatched_cells
    FROM sel3 s CROSS JOIN mism m
    ORDER BY s.event_type, s.q_bp
    """
