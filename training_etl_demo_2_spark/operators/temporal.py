"""Temporal joins: as-of join and banded range join.

Neither exists as a built-in Spark operator (the reference engine has no
counterpart either — these are the time-series operators a training-data
pipeline needs when aligning event streams with slowly-changing facts).
Both are expressed as compositions of existing DataFrame ops so Catalyst
keeps optimizing them — no Python in the hot path.

As-of join (backward): for each left row, attach the right row with the
greatest ``right_ts <= left_ts`` for the same key.  Implementation is the
classic union + ordered-window carry-forward:

  1. project both sides onto a common layout (key, ts, side-tag, payload
     struct, right-payload struct),
  2. union — ONE relation, ONE shuffle on the key (the window's
     partitionBy), no join node at all,
  3. ``last(right_struct, ignorenulls=True)`` over
     ``(key) ORDER BY ts, tag ROWS UNBOUNDED PRECEDING..CURRENT`` carries
     the most recent right row onto every left row,
  4. keep left rows, unpack the struct.

The right payload rides in a single struct so a right row whose
individual columns contain NULLs is still carried atomically (per-column
``last(ignorenulls)`` would stitch values from different rows).

Scale notes: cost is one hash exchange of |L|+|R| rows plus an
in-partition sort — the same price as a sort-merge join, with no
candidate blow-up on dense right sides (contrast the naive
``left join .. on key and rts <= lts`` + max() approach, which is
O(|L| x matching |R|)).  Skewed keys behave like any skewed window:
pre-aggregate the right side per (key, ts) — as `asof_last_order` does —
and let AQE handle residual imbalance.

Banded range join: match points to intervals (``lo <= pt < hi`` — or
pairs within a max gap) by quantizing time into buckets of width ~= the
maximum interval span, equi-joining on (key, bucket) with intervals
exploded to every bucket they overlap, then re-applying the exact range
predicate.  This turns an unbounded theta-join (which Spark executes as
BroadcastNestedLoop or a full cartesian per key) into an equi shuffle
join whose candidate count is O(points x avg-intervals-per-bucket).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_TAG = "__asof_tag"
_TS = "__asof_ts"
_LEFT = "__asof_left"
_RIGHT = "__asof_right"
_BUCKET = "__range_bucket"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    direction: str = "backward",
) -> DataFrame:
    """As-of join (left outer): each left row gains the right row's
    columns for the nearest ``right_ts <= left_ts`` (backward, ties
    inclusive) or ``right_ts >= left_ts`` (forward) within the same key.

    Right-side column names must not collide with left-side ones (rename
    before calling — the result carries both payloads unprefixed).
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")

    left_payload = [c for c in left.columns if c not in keys]
    right_payload = [c for c in right.columns if c not in keys]
    collide = set(left_payload) & set(right_payload)
    if collide:
        raise ValueError(f"column collision between sides: {sorted(collide)}")

    # Common layout. Right rows sort BEFORE left rows at equal ts for
    # backward (tag 0 < 1: an exactly-simultaneous fact is visible), and
    # AFTER for forward (symmetric inclusivity).
    l_norm = left.select(
        *keys,
        F.col(left_ts).alias(_TS),
        F.lit(1).alias(_TAG),
        F.struct(*left_payload).alias(_LEFT),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{t}" for c, t in right.select(*right_payload).dtypes) + ">"
        ).alias(_RIGHT),
    )
    r_norm = right.select(
        *keys,
        F.col(right_ts).alias(_TS),
        F.lit(0).alias(_TAG),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{t}" for c, t in left.select(*left_payload).dtypes) + ">"
        ).alias(_LEFT),
        F.struct(*right_payload).alias(_RIGHT),
    )
    unioned = l_norm.unionByName(r_norm)

    if direction == "backward":
        order = [F.col(_TS).asc(), F.col(_TAG).asc()]
        frame = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        carried = F.last(_RIGHT, ignorenulls=True).over(frame)
    else:
        # forward: nearest right at or after the left ts — scan from the
        # end; at equal ts the right row (tag 0) must sit AFTER the left
        # row in ascending order so the following-frame still sees it.
        order = [F.col(_TS).asc(), F.col(_TAG).desc()]
        frame = Window.partitionBy(*keys).orderBy(*order).rowsBetween(
            Window.currentRow, Window.unboundedFollowing
        )
        carried = F.first(_RIGHT, ignorenulls=True).over(frame)

    matched = unioned.withColumn(_RIGHT, carried).filter(F.col(_TAG) == 1)
    out_cols: list[Column] = [F.col(k) for k in keys]
    out_cols += [F.col(f"{_LEFT}.{c}").alias(c) for c in left_payload]
    out_cols += [F.col(f"{_RIGHT}.{c}").alias(c) for c in right_payload]
    return matched.select(*out_cols)


def banded_range_join(
    points: DataFrame,
    intervals: DataFrame,
    on: str | list[str],
    point_ts: str,
    interval_lo: str,
    interval_hi: str,
    max_span: int | None = None,
) -> DataFrame:
    """Point-in-interval join: rows of ``points`` matched to every row of
    ``intervals`` with the same key and ``lo <= pt <= hi``, as an
    equi-join on (key, bucket) instead of a theta-join.

    ``point_ts`` / ``interval_lo`` / ``interval_hi`` are integer-typed
    columns (e.g. ``unix_micros``) so bucketing is exact.  ``max_span``
    is the bucket width; defaults to the largest interval span (computed
    with one cheap agg) — pass it explicitly when you know the bound, to
    save the extra job.  Intervals are exploded to every bucket they
    overlap (span/width + 1 rows, ~2 for spans <= width), so candidate
    fan-out stays bounded; the exact predicate re-filters after the join.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if max_span is None:
        row = intervals.select(
            F.max(F.col(interval_hi) - F.col(interval_lo)).alias("s")
        ).first()
        max_span = int(row["s"]) if row["s"] is not None else 1
    width = max(int(max_span), 1)

    pts = points.withColumn(_BUCKET, F.floor(F.col(point_ts) / width))
    ivs = intervals.withColumn(
        _BUCKET,
        F.explode(
            F.sequence(
                F.floor(F.col(interval_lo) / width),
                F.floor(F.col(interval_hi) / width),
            )
        ),
    )
    joined = pts.join(ivs, on=keys + [_BUCKET]).filter(
        (F.col(point_ts) >= F.col(interval_lo))
        & (F.col(point_ts) <= F.col(interval_hi))
    )
    return joined.drop(_BUCKET)


# ---------------------------------------------------------------------------
# Registered queries over the fixture tables
# ---------------------------------------------------------------------------


def asof_last_order(t: dict[str, DataFrame]) -> DataFrame:
    """For every event, the user's most recent order activity at or
    before the event time: as-of(backward) events -> per-(custkey, day)
    order rollup.  The right side is pre-aggregated to one row per
    (key, ts) — both the determinism requirement (ASOF is ambiguous on
    duplicate timestamps) and the skew mitigation (window partitions
    carry |days|, not |orders|).
    """
    od = (
        t["orders"]
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("last_order_ts"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # exact cents: totalprice is a 2-dp decimal stored as double
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("spend_c"),
        )
    )
    ev = t["events"].select("user_id", "ts", "event_id")
    res = asof_join(ev, od, on="user_id", left_ts="ts", right_ts="last_order_ts")
    return res.select("event_id", "user_id", "ts", "last_order_ts", "n_orders", "spend_c")


def events_followups_within(
    t: dict[str, DataFrame], gap_s: int = 3600
) -> DataFrame:
    """Per user: how many ordered event pairs fall within ``gap_s``
    seconds (0 < t_b - t_a <= gap) — a time-range self-join executed as
    a banded range join (bucket width == gap, so each 'interval'
    [t_a, t_a+gap] spans <= 2 buckets of candidates).
    """
    gap_us = gap_s * 1_000_000
    e = t["events"].select("user_id", F.unix_micros("ts").alias("t"))
    pts = e.withColumnRenamed("t", "t_b")
    ivs = e.select(
        "user_id",
        F.col("t").alias("lo"),
        (F.col("t") + gap_us).alias("hi"),
    )
    pairs = banded_range_join(
        pts, ivs, on="user_id", point_ts="t_b",
        interval_lo="lo", interval_hi="hi", max_span=gap_us,
    ).filter(F.col("t_b") > F.col("lo"))
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


ASOF_LAST_ORDER_ORACLE = """
    WITH od AS (
        SELECT o_custkey AS user_id,
               o_orderdate AS last_order_ts,
               count(*) AS n_orders,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
                   AS spend_c
        FROM orders
        GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts, od.last_order_ts, od.n_orders, od.spend_c
    FROM events e
    ASOF LEFT JOIN od
      ON e.user_id = od.user_id AND e.ts >= od.last_order_ts
"""

EVENTS_FOLLOWUPS_ORACLE = """
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a
    JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
    GROUP BY a.user_id
"""


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_lo: str = "l_lo",
    left_hi: str = "l_hi",
    right_lo: str = "r_lo",
    right_hi: str = "r_hi",
    max_span: int | None = None,
) -> DataFrame:
    """Interval × interval OVERLAP join (the temporal primitive beside
    as-of and point-in-band): key-equal pairs whose intervals satisfy
    l_lo <= r_hi AND r_lo <= l_hi, executed as a banded equi-join.

    Both sides explode to every bucket their interval touches; a pair
    overlapping several shared buckets would surface once per bucket,
    so the join keeps only the bucket holding the OVERLAP START
    (max(l_lo, r_lo)) — each true pair is emitted exactly once with no
    dedup shuffle (the emit-once trick, cheaper than ``distinct`` over
    the candidate set). Bucket width defaults to the larger side's max
    span so fan-out stays <= 2 rows per interval per side; candidates
    per bucket scale with interval density, never |left| × |right|.
    Bounds are integer-typed (e.g. unix_micros) so bucketing is exact.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if max_span is None:
        s1 = left.select(
            F.max(F.col(left_hi) - F.col(left_lo)).alias("s")
        ).first()["s"]
        s2 = right.select(
            F.max(F.col(right_hi) - F.col(right_lo)).alias("s")
        ).first()["s"]
        max_span = max(int(s1 or 1), int(s2 or 1))
    width = max(int(max_span), 1)

    def banded(df: DataFrame, lo: str, hi: str) -> DataFrame:
        return df.withColumn(
            _BUCKET,
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / width), F.floor(F.col(hi) / width)
                )
            ),
        )

    l = banded(left, left_lo, left_hi)
    r = banded(right, right_lo, right_hi)
    overlap_start = F.greatest(F.col(left_lo), F.col(right_lo))
    return (
        l.join(r, on=keys + [_BUCKET])
        .filter(
            (F.col(left_lo) <= F.col(right_hi))
            & (F.col(right_lo) <= F.col(left_hi))
            & (F.col(_BUCKET) == F.floor(overlap_start / width))
        )
        .drop(_BUCKET)
    )


def session_error_overlaps(t: dict[str, DataFrame]) -> DataFrame:
    """Registered overlap-join query: per user, click activity windows
    ([ts, ts+30min] around each click) that OVERLAP error windows
    ([ts, ts+10min] around each error) — the "which sessions saw an
    incident" correlation. Output: one row per overlapping pair with
    the overlap length in seconds (exact integer micros arithmetic)."""
    e = t["events"]
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_lo"),
        (F.unix_micros("ts") + 1800 * 1_000_000).alias("c_hi"),
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.unix_micros("ts").alias("e_lo"),
        (F.unix_micros("ts") + 600 * 1_000_000).alias("e_hi"),
    )
    pairs = interval_overlap_join(
        clicks, errors, on="user_id",
        left_lo="c_lo", left_hi="c_hi",
        right_lo="e_lo", right_hi="e_hi",
        max_span=1800 * 1_000_000,
    )
    overlap_us = F.least(F.col("c_hi"), F.col("e_hi")) - F.greatest(
        F.col("c_lo"), F.col("e_lo")
    )
    return pairs.select(
        "user_id",
        "click_id",
        "error_id",
        F.floor(overlap_us / F.lit(1_000_000)).cast("long").alias("overlap_s"),
    )


SESSION_ERROR_OVERLAPS_ORACLE = """
    WITH clicks AS (
        SELECT user_id, event_id AS click_id,
               epoch_us(ts) AS c_lo, epoch_us(ts) + 1800000000 AS c_hi
        FROM events WHERE event_type = 'click'
    ),
    errors AS (
        SELECT user_id, event_id AS error_id,
               epoch_us(ts) AS e_lo, epoch_us(ts) + 600000000 AS e_hi
        FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.click_id, e.error_id,
           CAST(floor((least(c.c_hi, e.e_hi) - greatest(c.c_lo, e.e_lo))
                / 1000000) AS BIGINT) AS overlap_s
    FROM clicks c
    JOIN errors e
      ON c.user_id = e.user_id
     AND c.c_lo <= e.e_hi AND e.e_lo <= c.c_hi
"""


# ---------------------------------------------------------------------------
# watermark lateness audit (streaming-design sizing tool)
# ---------------------------------------------------------------------------

# Candidate withWatermark() delays to audit, in seconds.
WATERMARK_DELAYS = (0, 60, 300, 900, 3600)
# Deterministic delivery jitter: Knuth multiplicative hash of event_id,
# folded to [0, 600) seconds. Exact BIGINT arithmetic in both engines.
_JITTER_MULT = 2654435761
_JITTER_MOD = 600


def watermark_lateness_audit(
    t: dict[str, DataFrame],
    delays=WATERMARK_DELAYS,
    jitter_mod: int = _JITTER_MOD,
) -> DataFrame:
    """How many events would each candidate watermark delay DROP?

    Before picking `withWatermark("ts", "10 minutes")` for a streaming
    job you want the drop rate per candidate delay, measured on real
    traffic. This audit replays the batch events table in simulated
    ARRIVAL order (event time + deterministic per-event delivery
    jitter — the fixture's event_ids are already time-ordered, so the
    jitter models network reordering), tracks the running max event
    time exactly as Spark's watermark does, and counts events whose
    lateness (watermark minus own event time at arrival) exceeds each
    candidate delay.

    Scale shape (100 TB): the running max is computed scan-parallel,
    not through one global window task — arrival days are independent
    buckets (per-day window, parallel), and cross-bucket carry-in is
    the cummax of ~days-of-retention per-bucket maxima (metadata-sized,
    broadcast back). The delay fan-out is a narrow 5x explode before a
    5-group aggregate. Output: one row per candidate delay with exact
    integer basis points.
    """
    e = t["events"].select(
        "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    jitter_s = (F.col("event_id") * F.lit(_JITTER_MULT)) % F.lit(
        4294967296
    ) % F.lit(jitter_mod)
    arr = e.withColumn(
        "arrival_us", F.col("ts_us") + jitter_s * F.lit(1_000_000)
    ).withColumn(
        "bucket",
        ((F.col("arrival_us") - F.col("arrival_us") % 86400_000_000)
         / 86400_000_000).cast("long"),
    )
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    arr = arr.withColumn("run_max_us", F.max("ts_us").over(w_in))
    # carry-in: max event time of all STRICTLY EARLIER buckets
    # (metadata-sized: one row per arrival day)
    bmax = arr.groupBy("bucket").agg(F.max("ts_us").alias("b_max"))
    w_prev = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = bmax.select(
        "bucket", F.max("b_max").over(w_prev).alias("prev_max_us")
    )
    wm = arr.join(F.broadcast(carry), "bucket").withColumn(
        "wm_us",
        F.greatest(
            F.col("run_max_us"),
            F.coalesce(F.col("prev_max_us"), F.lit(-(1 << 62))),
        ),
    )
    lateness = (F.col("wm_us") - F.col("ts_us")).alias("late_us")
    fanned = wm.select(
        lateness,
        F.explode(
            F.array(*[F.lit(int(d)) for d in delays])
        ).alias("delay_s"),
    )
    agg = fanned.groupBy("delay_s").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            (
                F.col("late_us")
                > F.col("delay_s").cast("long") * F.lit(1_000_000)
            ).cast("long")
        ).alias("n_late"),
    )
    late_bp = (
        (F.col("n_late") * 10000
         - (F.col("n_late") * 10000) % F.col("n_events"))
        / F.col("n_events")
    ).cast("long")
    return agg.select("delay_s", "n_events", "n_late", late_bp.alias("late_bp"))


def watermark_lateness_audit_sql(
    delays=WATERMARK_DELAYS, jitter_mod: int = _JITTER_MOD
) -> str:
    """Twin of watermark_lateness_audit: one running-max window in
    arrival order (the bucketed two-pass scan and the single window are
    the same fixpoint), same integer jitter, exact integer basis
    points."""
    delay_rows = ", ".join(f"({int(d)})" for d in delays)
    return f"""
    WITH arr AS (
        SELECT event_id, epoch_us(ts) AS ts_us,
               epoch_us(ts)
               + ((event_id * {_JITTER_MULT}) % 4294967296 % {jitter_mod})
                 * 1000000 AS arrival_us
        FROM events
    ),
    wm AS (
        SELECT ts_us,
               max(ts_us) OVER (
                   ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - ts_us AS late_us
        FROM arr
    ),
    dv(delay_raw) AS (VALUES {delay_rows}),
    d AS (SELECT CAST(delay_raw AS BIGINT) AS delay_s FROM dv)
    SELECT d.delay_s,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (
               WHERE wm.late_us > d.delay_s * 1000000) AS BIGINT) AS n_late,
           CAST((count(*) FILTER (
                    WHERE wm.late_us > d.delay_s * 1000000) * 10000)
                // count(*) AS BIGINT) AS late_bp
    FROM wm CROSS JOIN d
    GROUP BY d.delay_s
    """


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------


def cusum_changepoint(t: dict[str, DataFrame]) -> DataFrame:
    """CUSUM mean-shift changepoint over the daily order-revenue
    series (Page 1954 / the standardized-CUSUM scan): the day t* that
    maximizes |S_t| = |Σ_{i≤t}(x_i − x̄)| — the split point of the
    most likely single mean shift — with the scan statistic
    max|S_t| / (σ̂·√n) whose >1.358 exceedance rejects "no change" at
    α=0.05 (Brownian-bridge asymptotics, same c(α) as the KS test).

    Exactness: the argmax is decided on n·S_t = n·cum_t − t·T — exact
    decimal(38,0) integers over CENTS (no float compare picks the
    day); ties break to the earliest day. Only the reported statistic
    divides.

    Scale shape: one groupBy collapses orders to the daily series
    (calendar-bounded metadata: ~2.4k rows for seven years at ANY
    corpus size); prefix sums and the argmax run over that metadata
    relation. Output: one row.
    """
    o = t["orders"].select(
        F.date_format(F.date_trunc("day", "o_orderdate"), "yyyy-MM-dd")
        .alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    daily = o.groupBy("day").agg(F.sum("cents").cast("long").alias("x"))
    w_ord = Window.orderBy("day")
    w_all = Window.partitionBy()
    dec = lambda c: c.cast("decimal(38,0)")
    cur = daily.select(
        "day",
        F.row_number().over(w_ord).alias("tt"),
        F.sum("x").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("x").over(w_all).alias("tot"),
        F.sum(dec(F.col("x")) * dec(F.col("x"))).over(w_all).alias("sq"),
    )
    ns = dec(F.col("n")) * dec(F.col("cum")) - dec(F.col("tt")) * dec(
        F.col("tot")
    )
    scored = cur.select(
        "day", "n", "tot", "sq", F.abs(ns).alias("ns_abs")
    )
    top = scored.orderBy(F.desc("ns_abs"), F.asc("day")).limit(1)
    n_d = F.col("n").cast("double")
    mean_c = F.col("tot").cast("double") / n_d
    var_c = F.col("sq").cast("double") / n_d - mean_c * mean_c
    stat = F.when(var_c <= 0, F.lit(0.0)).otherwise(
        F.col("ns_abs").cast("double")
        / n_d
        / (F.sqrt(var_c) * F.sqrt(n_d))
    )
    return top.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("day").alias("cp_day"),
        F.round(stat, 6).alias("cusum_stat_r6"),
        (stat > 1.358).cast("int").alias("shift_detected"),
    )


def cusum_changepoint_sql() -> str:
    """Twin of cusum_changepoint: HUGEINT n·cum − t·T argmax, same
    double formulas."""
    return """
    WITH daily AS (
        SELECT strftime(date_trunc('day', o_orderdate), '%Y-%m-%d') AS day,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    cur AS (
        SELECT day,
               row_number() OVER (ORDER BY day) AS tt,
               CAST(sum(x) OVER (ORDER BY day
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(count(*) OVER () AS BIGINT) AS n,
               CAST(sum(x) OVER () AS BIGINT) AS tot,
               sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) OVER () AS sq
        FROM daily
    ),
    scored AS (
        SELECT day, n, tot, sq,
               abs(CAST(n AS HUGEINT) * cum - CAST(tt AS HUGEINT) * tot)
                   AS ns_abs
        FROM cur
    ),
    top AS (
        SELECT * FROM scored ORDER BY ns_abs DESC, day ASC LIMIT 1
    )
    SELECT CAST(n AS BIGINT) AS n_days, day AS cp_day,
           round(CASE WHEN vc <= 0 THEN 0.0
                      ELSE CAST(ns_abs AS DOUBLE) / CAST(n AS DOUBLE)
                           / (sqrt(vc) * sqrt(CAST(n AS DOUBLE))) END, 6)
               AS cusum_stat_r6,
           CAST(CASE WHEN vc <= 0 THEN 0.0
                     ELSE CAST(ns_abs AS DOUBLE) / CAST(n AS DOUBLE)
                          / (sqrt(vc) * sqrt(CAST(n AS DOUBLE))) END
                > 1.358 AS INT) AS shift_detected
    FROM (SELECT *,
                 CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
                 - (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE))
                   * (CAST(tot AS DOUBLE) / CAST(n AS DOUBLE)) AS vc
          FROM top)
    """


# ---------------------------------------------------------------------------
# EWMA smoothing of the hourly event series
# ---------------------------------------------------------------------------

EWMA_ALPHA = 0.2
EWMA_H = 24  # truncated kernel horizon (hours of history)
# shared weight literals: w_j = (1-alpha)^j, generated once in Python so
# both engines multiply by bit-identical doubles
EWMA_W = [(1.0 - EWMA_ALPHA) ** j for j in range(EWMA_H)]


def ewma_hourly_smooth(t: dict[str, DataFrame]) -> DataFrame:
    """Exponentially-weighted moving average of hourly event counts per
    type — the denoised load curve behind capacity/anomaly baselines —
    with a TRUNCATED kernel: s_t = Σ_{j<H} w_j·x_{t−j} / Σ_{j<H} w_j
    over the trailing H observed hours, w_j = (1−α)^j. Truncation (vs
    the textbook infinite recursion) is what makes the smoother a
    stateless window expression instead of a sequential fold: any
    engine, any partitioning, any restart computes the same value,
    and the dropped tail carries weight (1−α)^H < 0.5%.

    Index-based, not calendar-based: lags step over OBSERVED hours
    (gap handling belongs to events_hourly_gapfilled upstream).

    Exactness: counts are integers; the weighted sums evaluate one
    shared left-folded chain of double literals generated once in
    Python, so both engines run the identical IEEE sequence.

    Scale shape: events collapse to the (type, hour) series (calendar
    -bounded metadata) in one groupBy; the H-lag window partitions by
    type. Output: one row per (type, hour).
    """
    hourly = (
        t["events"]
        .groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    x = F.col("n_events").cast("double")
    num = x * EWMA_W[0]
    den = F.lit(EWMA_W[0])
    for j in range(1, EWMA_H):
        lx = F.lag(x, j).over(w)
        num = num + F.coalesce(lx * EWMA_W[j], F.lit(0.0))
        den = den + F.when(lx.isNotNull(), F.lit(EWMA_W[j])).otherwise(
            F.lit(0.0)
        )
    return hourly.select(
        "event_type",
        "hour",
        "n_events",
        F.round(num / den, 6).alias("ewma_r6"),
    )


def ewma_hourly_smooth_sql() -> str:
    """Twin of ewma_hourly_smooth: identical left-folded weight chain
    over the same lag terms."""
    over = "OVER (PARTITION BY event_type ORDER BY hour)"
    num_terms = [f"CAST(n_events AS DOUBLE) * {EWMA_W[0]!r}"]
    den_terms = [f"{EWMA_W[0]!r}"]
    for j in range(1, EWMA_H):
        lx = f"lag(CAST(n_events AS DOUBLE), {j}) {over}"
        num_terms.append(f"coalesce({lx} * {EWMA_W[j]!r}, 0.0)")
        den_terms.append(
            f"CASE WHEN {lx} IS NOT NULL THEN {EWMA_W[j]!r} ELSE 0.0 END"
        )
    num = "\n                 + ".join(num_terms)
    den = "\n                 + ".join(den_terms)
    return f"""
    WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, hour, n_events,
           round(({num})
                 / ({den}), 6) AS ewma_r6
    FROM hourly
    """


# ---------------------------------------------------------------------------
# autocorrelation of the hourly event series
# ---------------------------------------------------------------------------

ACF_MAX_LAG = 24


def acf_hourly(t: dict[str, DataFrame], max_lag: int = ACF_MAX_LAG) -> DataFrame:
    """Autocorrelation function of the GLOBAL hourly event-count series
    at lags 1..``max_lag`` — the seasonality detector behind capacity
    planning and anomaly baselines (a daily cycle shows as a spike at
    lag 24). Computed over the GAP-FILLED calendar (a missing hour is a
    0, not an absent row — gaps carry signal for autocorrelation).

    Exactness: with n hours and total S, the centered series is scaled
    to exact integers c_t = n·x_t − S, so every lag-k product sum
    Σ c_t·c_{t−k} and the denominator Σ c_t² are exact decimal(38,0)/
    HUGEINT sums (the n² scaling cancels in the ratio); one division
    per lag at the end, rounded to 6. r_k uses the standard
    full-series-variance normalization (numerator over the n−k
    overlapping terms, denominator over all n).

    Scale shape: events collapse to the (hour, count) series in one
    groupBy; the calendar grid derives from a 1-row min/max aggregate
    whose range explodes narrowly (calendar-bounded metadata — ~9k
    rows/year at ANY corpus size); the lag windows and final aggregate
    run over that metadata relation. Output: ``max_lag`` rows.
    """
    e = t["events"]
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    grid = (
        hourly.groupBy()
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
    )
    filled = grid.join(hourly, "h", "left").select(
        "h", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    w_all = Window.partitionBy()
    dec = lambda c: c.cast("decimal(38,0)")
    cen = filled.select(
        "h",
        (
            F.count(F.lit(1)).over(w_all) * F.col("x")
            - F.sum("x").over(w_all)
        )
        .cast("long")
        .alias("c"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    w_ord = Window.orderBy("h")
    lagged = cen.select(
        "h",
        "c",
        "n",
        *[
            F.lag("c", k).over(w_ord).alias(f"l_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    aggs = [
        F.max("n").alias("n"),
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("den"),
    ]
    for k in range(1, max_lag + 1):
        aggs.append(
            F.sum(dec(F.col("c")) * dec(F.col(f"l_{k}"))).alias(f"num_{k}")
        )
    one = lagged.groupBy().agg(*aggs)
    stack = ", ".join(f"{k}, num_{k}" for k in range(1, max_lag + 1))
    return (
        one.select(
            "n",
            "den",
            F.expr(
                f"stack({max_lag}, {stack}) AS (lag, num)"
            ),
        )
        .select(
            F.col("lag").cast("int").alias("lag"),
            (F.col("n") - F.col("lag")).cast("long").alias("n_pairs"),
            F.when(
                F.col("den") > 0,
                F.round(
                    F.col("num").cast("double")
                    / F.col("den").cast("double"),
                    6,
                ),
            ).alias("acf_r6"),
        )
        .orderBy("lag")
    )


def acf_hourly_sql(max_lag: int = ACF_MAX_LAG) -> str:
    """Twin of acf_hourly: identical integer centering (c = n·x − S)
    and HUGEINT lag-product sums over the same gap-filled calendar."""
    lag_cols = ",\n               ".join(
        f"lag(c, {k}) OVER (ORDER BY h) AS l_{k}"
        for k in range(1, max_lag + 1)
    )
    nums = ",\n               ".join(
        f"sum(CAST(c AS HUGEINT) * CAST(l_{k} AS HUGEINT)) AS num_{k}"
        for k in range(1, max_lag + 1)
    )
    arms = "\n        UNION ALL ".join(
        f"SELECT {k} AS lag, num_{k} AS num FROM agg"
        for k in range(1, max_lag + 1)
    )
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    grid AS (
        SELECT unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        FROM hourly
    ),
    filled AS (
        SELECT g.h, coalesce(hourly.x, 0) AS x
        FROM grid g LEFT JOIN hourly ON hourly.h = g.h
    ),
    cen AS (
        SELECT h,
               CAST(count(*) OVER () * x - sum(x) OVER () AS BIGINT) AS c,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM filled
    ),
    lagged AS (
        SELECT h, c, n,
               {lag_cols}
        FROM cen
    ),
    agg AS MATERIALIZED (
        SELECT max(n) AS n,
               sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS den,
               {nums}
        FROM lagged
    ),
    lags AS ({arms})
    SELECT CAST(l.lag AS INT) AS lag,
           CAST(a.n - l.lag AS BIGINT) AS n_pairs,
           CASE WHEN a.den > 0
                THEN round(CAST(l.num AS DOUBLE) / CAST(a.den AS DOUBLE), 6)
           END AS acf_r6
    FROM lags l CROSS JOIN agg a
    ORDER BY lag
    """


# ---------------------------------------------------------------------------
# seasonal-naive forecast backtest (MASE / sMAPE)
# ---------------------------------------------------------------------------

FCEVAL_SEASON = 168  # weekly cycle, hours
FCEVAL_TEST_H = 168  # holdout horizon, hours


def seasonal_forecast_eval(t: dict[str, DataFrame]) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (x̂_t = x_{t−168}) on
    the per-type hourly event series: the last ``FCEVAL_TEST_H`` hours
    are held out and scored with MAE, MASE (Hyndman-Koehler 2006 —
    test MAE over the TRAIN-set seasonal-naive MAE, the scale-free
    "is it better than the naive baseline it will be compared to"),
    and sMAPE (zero-denominator hours excluded, counted in
    ``n_smape``). The eval loop every forecasting pipeline needs
    before a model ships.

    The grid is the GLOBAL gap-filled calendar (shared [min,max] hour
    across types, zeros for silent hours) so every type is scored on
    the same clock.

    Exactness: counts are integers, so |x−x̂| sums are exact BIGINTs;
    MASE divides two exact sums once (the (n_test, n_mae) factors kept
    as integer multipliers), and each sMAPE term divides small exact
    integers, nano-rounded BEFORE the sum (order-invariant).

    Scale shape: one groupBy to the (type, hour) relation; the grid is
    a 1-row bounds aggregate exploded narrowly × the distinct-type
    relation (calendar × type-registry metadata); lag-168 runs in a
    per-type window. Output: one row per event_type.
    """
    e = t["events"]
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    bounds = hourly.groupBy().agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    ).crossJoin(F.broadcast(hourly.select("event_type").distinct()))
    filled = grid.join(hourly, ["h", "event_type"], "left").select(
        "event_type", "h", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    w_type = Window.partitionBy("event_type").orderBy("h")
    w_all = Window.partitionBy("event_type")
    scored = filled.select(
        "event_type",
        "h",
        "x",
        F.lag("x", FCEVAL_SEASON).over(w_type).alias("xhat"),
        F.row_number().over(w_type).alias("tt"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    is_test = F.col("tt") > F.col("n") - FCEVAL_TEST_H
    has_fc = F.col("xhat").isNotNull()
    abs_err = F.abs(F.col("x") - F.col("xhat"))
    sm_den = F.col("x") + F.col("xhat")
    sm_nano = F.floor(
        (F.lit(2.0) * abs_err.cast("double"))
        / sm_den.cast("double")
        * 1e9
        + F.lit(0.5)
    ).cast("long")
    per = scored.groupBy("event_type").agg(
        F.sum(F.when(has_fc & ~is_test, 1).otherwise(0))
        .cast("long")
        .alias("n_train_mae"),
        F.sum(F.when(has_fc & is_test, 1).otherwise(0))
        .cast("long")
        .alias("n_test"),
        F.sum(F.when(has_fc & ~is_test, abs_err).otherwise(0))
        .cast("long")
        .alias("ae_train"),
        F.sum(F.when(has_fc & is_test, abs_err).otherwise(0))
        .cast("long")
        .alias("ae_test"),
        F.sum(
            F.when(has_fc & is_test & (sm_den > 0), sm_nano).otherwise(0)
        )
        .cast("long")
        .alias("sm_nano_sum"),
        F.sum(F.when(has_fc & is_test & (sm_den > 0), 1).otherwise(0))
        .cast("long")
        .alias("n_smape"),
    )
    dbl = lambda c: F.col(c).cast("double")
    return per.select(
        "event_type",
        "n_test",
        F.when(
            F.col("n_test") > 0, F.round(dbl("ae_test") / dbl("n_test"), 6)
        ).alias("mae_test_r6"),
        F.when(
            (F.col("ae_train") > 0) & (F.col("n_test") > 0),
            F.round(
                (dbl("ae_test") * dbl("n_train_mae"))
                / (dbl("ae_train") * dbl("n_test")),
                6,
            ),
        ).alias("mase_r6"),
        F.when(
            F.col("n_smape") > 0,
            F.round(dbl("sm_nano_sum") / 1e9 / dbl("n_smape"), 6),
        ).alias("smape_r6"),
    ).orderBy("event_type")


def seasonal_forecast_eval_sql() -> str:
    """Twin of seasonal_forecast_eval: identical split, integer error
    sums, and per-term nano-rounded sMAPE."""
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT g.h, ty.event_type
        FROM (SELECT unnest(generate_series(min(h), max(h),
                                            INTERVAL 1 HOUR)) AS h
              FROM hourly) g
        CROSS JOIN (SELECT DISTINCT event_type FROM hourly) ty
    ),
    filled AS (
        SELECT g.event_type, g.h, coalesce(hourly.x, 0) AS x
        FROM grid g LEFT JOIN hourly
          ON hourly.h = g.h AND hourly.event_type = g.event_type
    ),
    scored AS (
        SELECT event_type, h, x,
               lag(x, {FCEVAL_SEASON}) OVER
                   (PARTITION BY event_type ORDER BY h) AS xhat,
               row_number() OVER
                   (PARTITION BY event_type ORDER BY h) AS tt,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM filled
    ),
    per AS (
        SELECT event_type,
               CAST(sum(CASE WHEN xhat IS NOT NULL
                             AND tt <= n - {FCEVAL_TEST_H}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_train_mae,
               CAST(sum(CASE WHEN xhat IS NOT NULL
                             AND tt > n - {FCEVAL_TEST_H}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
               CAST(sum(CASE WHEN xhat IS NOT NULL
                             AND tt <= n - {FCEVAL_TEST_H}
                        THEN abs(x - xhat) ELSE 0 END) AS BIGINT)
                   AS ae_train,
               CAST(sum(CASE WHEN xhat IS NOT NULL
                             AND tt > n - {FCEVAL_TEST_H}
                        THEN abs(x - xhat) ELSE 0 END) AS BIGINT)
                   AS ae_test,
               CAST(sum(CASE WHEN xhat IS NOT NULL
                             AND tt > n - {FCEVAL_TEST_H}
                             AND x + xhat > 0
                        THEN CAST(floor(
                            2.0 * CAST(abs(x - xhat) AS DOUBLE)
                            / CAST(x + xhat AS DOUBLE) * 1e9 + 0.5)
                            AS BIGINT)
                        ELSE 0 END) AS BIGINT) AS sm_nano_sum,
               CAST(sum(CASE WHEN xhat IS NOT NULL
                             AND tt > n - {FCEVAL_TEST_H}
                             AND x + xhat > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_smape
        FROM scored GROUP BY 1
    )
    SELECT event_type, n_test,
           CASE WHEN n_test > 0
                THEN round(CAST(ae_test AS DOUBLE)
                           / CAST(n_test AS DOUBLE), 6)
           END AS mae_test_r6,
           CASE WHEN ae_train > 0 AND n_test > 0
                THEN round(CAST(ae_test AS DOUBLE)
                           * CAST(n_train_mae AS DOUBLE)
                           / (CAST(ae_train AS DOUBLE)
                              * CAST(n_test AS DOUBLE)), 6)
           END AS mase_r6,
           CASE WHEN n_smape > 0
                THEN round(CAST(sm_nano_sum AS DOUBLE) / 1e9
                           / CAST(n_smape AS DOUBLE), 6)
           END AS smape_r6
    FROM per
    ORDER BY event_type
    """


# ---------------------------------------------------------------------------
# Theil-Sen robust trend of daily order revenue
# ---------------------------------------------------------------------------


def theil_sen_trend(t: dict[str, DataFrame]) -> DataFrame:
    """Theil-Sen estimator of the daily-revenue trend — the median of
    all pairwise slopes (rev_j − rev_i)/(day_j − day_i), the
    29%-breakdown robust alternative to the OLS slope
    (``events_value_trend_ols``): a handful of blowout days cannot
    drag it. Reports the median slope, the OLS slope on the same
    series for contrast, and the day count.

    Exactness: revenue is exact cents per day; each slope divides two
    exact integers once (identical IEEE division in both engines);
    the median of an even pair count averages the two middle doubles —
    identical in Spark ``percentile(0.5)`` and DuckDB
    ``quantile_cont(0.5)``.

    Scale shape: orders collapse to the daily series first (calendar-
    bounded metadata, ~2.4k rows for seven years at ANY corpus size);
    the pairwise self-join is over THAT relation (~3M pairs — grows
    with the calendar span squared, never with data volume), shuffled
    on nothing (broadcast self-join). Output: one row.
    """
    o = t["orders"].select(
        F.date_trunc("day", "o_orderdate").alias("day"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    daily = o.groupBy("day").agg(
        F.sum("cents").cast("long").alias("rev")
    ).select(
        F.datediff("day", F.lit("1990-01-01")).cast("long").alias("d"),
        "rev",
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.d") < F.col("b.d"), "inner"
    ).select(
        (
            (F.col("b.rev") - F.col("a.rev")).cast("double")
            / (F.col("b.d") - F.col("a.d")).cast("double")
        ).alias("slope")
    )
    med = pairs.groupBy().agg(
        F.expr("percentile(slope, 0.5)").alias("med"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    # OLS on the same daily series for contrast: exact integer moments
    dec = lambda c: c.cast("decimal(38,0)")
    ols = daily.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("rev").cast("long").alias("sr"),
        F.sum(dec(F.col("d")) * dec(F.col("rev"))).alias("sdr"),
        F.sum(dec(F.col("d")) * dec(F.col("d"))).alias("sdd"),
    )
    num = (
        F.col("n_days").cast("double") * F.col("sdr").cast("double")
        - F.col("sd").cast("double") * F.col("sr").cast("double")
    )
    den = (
        F.col("n_days").cast("double") * F.col("sdd").cast("double")
        - F.col("sd").cast("double") * F.col("sd").cast("double")
    )
    return med.crossJoin(F.broadcast(ols)).select(
        "n_days",
        "n_pairs",
        F.round(F.col("med"), 4).alias("theil_sen_cents_per_day_r4"),
        F.when(den > 0, F.round(num / den, 4)).alias(
            "ols_cents_per_day_r4"
        ),
    )


def theil_sen_trend_sql() -> str:
    """Twin of theil_sen_trend: identical pairwise-slope median
    (quantile_cont) and integer OLS moments."""
    return """
    WITH daily AS MATERIALIZED (
        SELECT CAST(datediff('day', TIMESTAMP '1990-01-01',
                             date_trunc('day', o_orderdate)) AS BIGINT) AS d,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY date_trunc('day', o_orderdate)
    ),
    pairs AS (
        SELECT CAST(b.rev - a.rev AS DOUBLE)
               / CAST(b.d - a.d AS DOUBLE) AS slope
        FROM daily a JOIN daily b ON a.d < b.d
    ),
    med AS (
        SELECT quantile_cont(slope, 0.5) AS med,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs
    ),
    ols AS (
        SELECT CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(rev) AS BIGINT) AS sr,
               sum(CAST(d AS HUGEINT) * CAST(rev AS HUGEINT)) AS sdr,
               sum(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sdd
        FROM daily
    )
    SELECT n_days, n_pairs,
           round(med, 4) AS theil_sen_cents_per_day_r4,
           CASE WHEN CAST(n_days AS DOUBLE) * CAST(sdd AS DOUBLE)
                     - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) > 0
                THEN round((CAST(n_days AS DOUBLE) * CAST(sdr AS DOUBLE)
                            - CAST(sd AS DOUBLE) * CAST(sr AS DOUBLE))
                           / (CAST(n_days AS DOUBLE) * CAST(sdd AS DOUBLE)
                              - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)),
                           4)
           END AS ols_cents_per_day_r4
    FROM med CROSS JOIN ols
    """


# ---------------------------------------------------------------------------
# seasonal-profile residual anomalies (hour-of-day baseline + MAD)
# ---------------------------------------------------------------------------

SEAS_ROBUST_K = 3.0 * 1.4826  # 3-sigma-equivalent MAD multiplier


def seasonal_residual_anomalies(t: dict[str, DataFrame]) -> DataFrame:
    """Seasonality-aware anomaly scan of the hourly event series: each
    hour is compared to the MEDIAN count of its hour-of-day across the
    whole span (the robust seasonal profile), and hours whose residual
    exceeds 3σ-equivalent (``3·1.4826·MAD`` of the residuals) are
    flagged. The seasonal upgrade of ``robust_value_anomalies`` — a
    quiet 4am hour is only an anomaly relative to OTHER 4am hours, a
    distinction a global MAD cannot make.

    Exactness: counts are integers over the gap-filled calendar; both
    medians interpolate two integers at worst (identical
    percentile/quantile_cont halves in both engines); residuals and
    the threshold compare through one shared double sequence.

    Scale shape: events collapse to the gap-filled calendar relation
    (metadata); the 24-group profile, residuals, and the one-row MAD
    are all computed over that relation. Output: flagged hours only.
    """
    e = t["events"]
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    grid = (
        hourly.groupBy()
        .agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("h")
        )
    )
    filled = grid.join(hourly, "h", "left").select(
        "h",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        F.hour("h").cast("int").alias("hod"),
    )
    prof = filled.groupBy("hod").agg(
        F.expr("percentile(x, 0.5)").alias("med")
    )
    resid = filled.join(F.broadcast(prof), "hod").select(
        "h",
        "x",
        "med",
        (F.col("x").cast("double") - F.col("med")).alias("r"),
    )
    mad = resid.groupBy().agg(
        F.expr("percentile(abs(r), 0.5)").alias("mad")
    )
    out = resid.crossJoin(F.broadcast(mad))
    thresh = F.lit(SEAS_ROBUST_K) * F.col("mad")
    return (
        out.filter((F.col("mad") > 0) & (F.abs(F.col("r")) > thresh))
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("x").alias("n_events"),
            F.round(F.col("med"), 1).alias("expected_med_r1"),
            F.round(F.col("r"), 1).alias("resid_r1"),
        )
        .orderBy("hour")
    )


def seasonal_residual_anomalies_sql() -> str:
    """Twin of seasonal_residual_anomalies: same profile + MAD rule."""
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1
    ),
    grid AS (
        SELECT unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        FROM hourly
    ),
    filled AS (
        SELECT g.h, coalesce(hourly.x, 0) AS x,
               CAST(extract(hour FROM g.h) AS INT) AS hod
        FROM grid g LEFT JOIN hourly ON hourly.h = g.h
    ),
    prof AS (
        SELECT hod, quantile_cont(x, 0.5) AS med
        FROM filled GROUP BY 1
    ),
    resid AS (
        SELECT f.h, f.x, p.med,
               CAST(f.x AS DOUBLE) - p.med AS r
        FROM filled f JOIN prof p USING (hod)
    ),
    mad AS (
        SELECT quantile_cont(abs(r), 0.5) AS mad FROM resid
    )
    SELECT strftime(resid.h, '%Y-%m-%d %H:%M:%S') AS hour,
           resid.x AS n_events,
           round(resid.med, 1) AS expected_med_r1,
           round(resid.r, 1) AS resid_r1
    FROM resid CROSS JOIN mad
    WHERE mad.mad > 0 AND abs(resid.r) > {SEAS_ROBUST_K!r} * mad.mad
    ORDER BY hour
    """


# ---------------------------------------------------------------------------
# cross-correlation (lead-lag) between event-type hourly series
# ---------------------------------------------------------------------------

CCF_MAX_LAG = 12  # hours each side


def ccf_event_types(
    t: dict[str, DataFrame], max_lag: int = CCF_MAX_LAG
) -> DataFrame:
    """Cross-correlation function between every PAIR of event-type
    hourly count series at lags −``max_lag``..+``max_lag`` — the
    lead-lag detector ``acf_hourly`` can't express (does 'click'
    activity lead 'purchase' by two hours? a positive-lag peak of the
    (a,b) pair says b follows a). Series share one gap-filled clock so
    a missing hour is a 0 on both sides.

    Exactness: per type, the centered series is scaled to exact
    integers c_t = n·x_t − S_type (n = shared grid length, S = type
    total); every lag product sum Σ c^a_t·c^b_{t+k} and both
    denominators Σ(c^a)², Σ(c^b)² are exact decimal(38,0)/HUGEINT
    sums (the n² scale cancels in the ratio); ONE double division +
    sqrt per output row. r uses full-series-variance normalization
    (numerator over the n−|k| overlapping hours).

    Scale shape: events collapse to the (type, hour) relation in one
    groupBy; the grid is the 1-row bounds aggregate exploded × the
    broadcast type registry (calendar × |types| metadata — same
    allowlisted shape as seasonal_forecast_eval); the lag shift is an
    integer epoch-key equi-join over that metadata, never a window
    over data-sized input. Output: |pairs| × (2·max_lag+1) rows.
    """
    e = t["events"]
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    bounds = hourly.groupBy().agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias(
            "h"
        )
    ).crossJoin(F.broadcast(hourly.select("event_type").distinct()))
    filled = grid.join(hourly, ["h", "event_type"], "left").select(
        "event_type",
        (F.unix_timestamp("h") / 3600).cast("long").alias("he"),
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
    )
    w_type = Window.partitionBy("event_type")
    dec = lambda c: c.cast("decimal(38,0)")
    cen = filled.select(
        "event_type",
        "he",
        (
            F.count(F.lit(1)).over(w_type) * F.col("x")
            - F.sum("x").over(w_type)
        )
        .cast("long")
        .alias("c"),
    )
    den = cen.groupBy("event_type").agg(
        F.sum(dec(F.col("c")) * dec(F.col("c"))).alias("den"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    lags = F.explode(
        F.sequence(F.lit(-max_lag), F.lit(max_lag))
    ).alias("lag")
    a = cen.select(
        F.col("event_type").alias("ta"),
        F.col("he").alias("hea"),
        F.col("c").alias("ca"),
        lags,
    )
    b = cen.select(
        F.col("event_type").alias("tb"),
        F.col("he").alias("heb"),
        F.col("c").alias("cb"),
    )
    num = (
        a.join(
            b,
            (F.col("heb") == F.col("hea") + F.col("lag").cast("long"))
            & (F.col("ta") < F.col("tb")),
        )
        .groupBy("ta", "tb", "lag")
        .agg(
            F.sum(dec(F.col("ca")) * dec(F.col("cb"))).alias("num"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    return (
        num.join(
            F.broadcast(
                den.select(
                    F.col("event_type").alias("ta"),
                    F.col("den").alias("den_a"),
                )
            ),
            "ta",
        )
        .join(
            F.broadcast(
                den.select(
                    F.col("event_type").alias("tb"),
                    F.col("den").alias("den_b"),
                )
            ),
            "tb",
        )
        .select(
            F.col("ta").alias("type_a"),
            F.col("tb").alias("type_b"),
            F.col("lag").cast("int").alias("lag"),
            "n_pairs",
            F.when(
                (F.col("den_a") > 0) & (F.col("den_b") > 0),
                F.round(
                    F.col("num").cast("double")
                    / F.sqrt(
                        F.col("den_a").cast("double")
                        * F.col("den_b").cast("double")
                    ),
                    6,
                ),
            ).alias("ccf_r6"),
        )
        .orderBy("type_a", "type_b", "lag")
    )


def ccf_event_types_sql(max_lag: int = CCF_MAX_LAG) -> str:
    """Twin of ccf_event_types: identical shared-clock integer
    centering and HUGEINT lag-product sums."""
    return f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT unnest(generate_series(min(h), max(h), INTERVAL 1 HOUR)) AS h
        FROM hourly
    ),
    typed_grid AS (
        SELECT g.h, ty.event_type
        FROM grid g CROSS JOIN (SELECT DISTINCT event_type FROM hourly) ty
    ),
    filled AS (
        SELECT tg.event_type,
               CAST(epoch(tg.h) // 3600 AS BIGINT) AS he,
               coalesce(hourly.x, 0) AS x
        FROM typed_grid tg
        LEFT JOIN hourly ON hourly.h = tg.h
                        AND hourly.event_type = tg.event_type
    ),
    cen AS MATERIALIZED (
        SELECT event_type, he,
               CAST(count(*) OVER (PARTITION BY event_type) * x
                    - sum(x) OVER (PARTITION BY event_type) AS BIGINT) AS c
        FROM filled
    ),
    den AS (
        SELECT event_type,
               sum(CAST(c AS HUGEINT) * CAST(c AS HUGEINT)) AS den,
               CAST(count(*) AS BIGINT) AS n
        FROM cen GROUP BY 1
    ),
    num AS (
        SELECT a.event_type AS ta, b.event_type AS tb,
               CAST(l.lag AS INT) AS lag,
               sum(CAST(a.c AS HUGEINT) * CAST(b.c AS HUGEINT)) AS num,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM cen a
        CROSS JOIN (SELECT unnest(generate_series(-{max_lag}, {max_lag}))
                    AS lag) l
        JOIN cen b ON b.he = a.he + l.lag AND a.event_type < b.event_type
        GROUP BY 1, 2, 3
    )
    SELECT n.ta AS type_a, n.tb AS type_b, n.lag, n.n_pairs,
           CASE WHEN da.den > 0 AND db.den > 0
                THEN round(CAST(n.num AS DOUBLE)
                           / sqrt(CAST(da.den AS DOUBLE)
                                  * CAST(db.den AS DOUBLE)), 6)
           END AS ccf_r6
    FROM num n
    JOIN den da ON da.event_type = n.ta
    JOIN den db ON db.event_type = n.tb
    ORDER BY type_a, type_b, lag
    """


# ---------------------------------------------------------------------------
# sweep-line interval union: merged coverage time per key
# ---------------------------------------------------------------------------

COVERAGE_WINDOW_MIN = 30


def user_active_coverage(
    t: dict[str, DataFrame], window_min: int = COVERAGE_WINDOW_MIN
) -> DataFrame:
    """Merged activity coverage per user: each event opens a
    ``window_min``-minute activity interval; overlapping intervals
    merge, and the output is the UNION length — the classic sweep-line
    statistic behind SLA uptime, machine-utilization, and
    "actually-active time" metrics, where naive Σ durations
    double-counts every overlap (an interval_overlap_join finds WHICH
    intervals collide; this measures net covered time).

    Sweep-line, relationally: explode each interval into a +1 open and
    a −1 close event, running-sum per user in time order — covered
    spans are exactly where the running count is > 0 after the event —
    then sum (next_boundary − boundary) over covered gaps. Exact
    integer microseconds end to end; ties (a close at the same μs as
    an open) sort opens first (delta DESC) so back-to-back intervals
    merge, matching the closed-open [ts, ts+w) convention.

    Scale shape: 2 rows per event through ONE user-partitioned window
    (time-ordered running sum) + one user-keyed aggregate — no joins
    at all; the window partitions by user so no global sort exists.

    Output: (user_id, n_events, covered_us, span_us, utilization_bp)
    where span is last close − first open and utilization =
    covered/span.
    """
    ev = t["events"]
    us = F.lit(window_min * 60 * 1_000_000).cast("long")
    opens = ev.select(
        "user_id",
        F.unix_micros("ts").alias("b"),
        F.lit(1).alias("delta"),
    )
    closes = ev.select(
        "user_id",
        (F.unix_micros("ts") + us).alias("b"),
        F.lit(-1).alias("delta"),
    )
    bounds = opens.union(closes)
    order = Window.partitionBy("user_id").orderBy("b", F.desc("delta"))
    # ROWS frame explicitly (Spark's ordered-window default is RANGE):
    # within a (b, delta) tie group only the LAST row carries a nonzero
    # gap, and its ROWS prefix equals the group total, so intra-tie
    # order cannot reach the result — same argument as the SQL twin.
    w = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    swept = bounds.withColumn(
        "running", F.sum("delta").over(w)
    ).withColumn("next_b", F.lead("b").over(order))
    return (
        swept.groupBy("user_id")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_events"),
            F.sum(
                F.when(
                    (F.col("running") > 0) & F.col("next_b").isNotNull(),
                    F.col("next_b") - F.col("b"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("covered_us"),
            (F.max("b") - F.min("b")).cast("long").alias("span_us"),
        )
        .withColumn(
            "utilization_bp",
            F.expr("(covered_us * 10000L) div span_us").cast("long"),
        )
    )


def user_active_coverage_sql(window_min: int = COVERAGE_WINDOW_MIN) -> str:
    """Twin of user_active_coverage: identical ±1 sweep with the same
    tie order (opens before closes at equal microsecond)."""
    us = window_min * 60 * 1_000_000
    return f"""
    WITH bounds AS (
        SELECT user_id, epoch_us(ts) AS b, 1 AS delta FROM events
        UNION ALL
        SELECT user_id, epoch_us(ts) + {us} AS b, -1 AS delta FROM events
    ),
    swept AS (
        SELECT user_id, b, delta,
               sum(delta) OVER (PARTITION BY user_id
                                ORDER BY b, delta DESC
                                ROWS UNBOUNDED PRECEDING) AS running,
               lead(b) OVER (PARTITION BY user_id
                             ORDER BY b, delta DESC) AS next_b
        FROM bounds
    )
    SELECT user_id,
           CAST(count(*) / 2 AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN running > 0 AND next_b IS NOT NULL
                         THEN next_b - b ELSE 0 END) AS BIGINT)
               AS covered_us,
           CAST(max(b) - min(b) AS BIGINT) AS span_us,
           CAST((sum(CASE WHEN running > 0 AND next_b IS NOT NULL
                          THEN next_b - b ELSE 0 END) * 10000)
                // (max(b) - min(b)) AS BIGINT) AS utilization_bp
    FROM swept
    GROUP BY user_id
    """


DEDUP_TTL_HOURS = (1, 6, 24)


def dedup_state_ttl_curve(
    t: dict[str, DataFrame], ttls: tuple[int, ...] = DEDUP_TTL_HOURS
) -> DataFrame:
    """STATE SIZING for streaming dedup — the capacity question TTL
    eviction exists to answer: if the exact-dedup operator keeps each
    fingerprint for TTL hours after its last arrival, how many entries
    is it holding at once? Per candidate TTL this reports the maximum
    and mean concurrent state over every observed hour (fingerprint =
    (user, event_type) identity, the stream_exact_dedup key shape) —
    the number that decides executor state-store memory and whether
    RocksDB spilling is needed BEFORE the stream is deployed.

    Output: one row per TTL — (ttl_hours, n_hours, max_state,
    mean_state, total_fps), exact integers.

    Scale shape: deliberately NO range join (h BETWEEN hour-ttl+1 AND
    hour would plan a nested loop): each distinct (fp, hour) presence
    EXPLODES into the ≤ ttl hours it keeps the entry alive — a narrow
    ×Σttl fan-out — then distinct + two grouped folds, all equi-keyed;
    observed-hour filtering is a semi-join, not a scalar broadcast.
    """
    from ..functions import rolling_hash

    e = t["events"].select(
        rolling_hash(
            F.concat_ws(
                ":", F.col("user_id").cast("string"), F.col("event_type")
            )
        ).alias("fp"),
        (F.unix_micros(F.col("ts")) / 3_600_000_000)
        .cast("long")
        .alias("hour"),
    )
    fp_hours = e.distinct()
    obs_hours = fp_hours.select("hour").distinct()
    arms = fp_hours.select(
        "fp",
        "hour",
        F.explode(F.array(*[F.lit(int(x)) for x in ttls])).alias("ttl"),
    ).select(
        "fp",
        "ttl",
        F.explode(
            F.sequence(F.col("hour"), F.col("hour") + F.col("ttl") - 1)
        ).alias("h"),
    )
    live = (
        arms.join(obs_hours.withColumnRenamed("hour", "h"), "h")
        .select("ttl", "h", "fp")
        .distinct()
    )
    per_hour = live.groupBy("ttl", "h").agg(
        F.count(F.lit(1)).cast("long").alias("state")
    )
    totals = fp_hours.agg(
        F.count_distinct("fp").cast("long").alias("total_fps")
    )
    return (
        per_hour.groupBy("ttl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.max("state").cast("long").alias("max_state"),
            F.expr("sum(state) div count(1)").cast("long").alias(
                "mean_state"
            ),
        )
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("ttl").cast("long").alias("ttl_hours"),
            "n_hours",
            "max_state",
            "mean_state",
            "total_fps",
        )
        .orderBy("ttl_hours")
    )


def dedup_state_ttl_curve_sql(
    ttls: tuple[int, ...] = DEDUP_TTL_HOURS,
) -> str:
    """Twin: same fingerprint/hour lattice, same coverage explode and
    folds."""
    from .oracle import ROLLING_HASH

    fp = ROLLING_HASH.format(
        s="CAST(user_id AS VARCHAR) || ':' || event_type"
    )
    tl = "[" + ", ".join(str(int(x)) for x in ttls) + "]"
    return f"""
    WITH fp_hours AS (
        SELECT DISTINCT {fp} AS fp,
               epoch_us(ts) // 3600000000 AS hour
        FROM events
    ),
    obs AS (SELECT DISTINCT hour AS h FROM fp_hours),
    tt AS (SELECT fp, hour, unnest({tl}) AS ttl FROM fp_hours),
    arms AS (
        SELECT fp, ttl,
               unnest(range(hour, hour + ttl)) AS h
        FROM tt
    ),
    live AS (
        SELECT DISTINCT a.ttl, a.h, a.fp
        FROM arms a JOIN obs o ON o.h = a.h
    ),
    per_hour AS (
        SELECT ttl, h, CAST(count(*) AS BIGINT) AS state
        FROM live GROUP BY ttl, h
    ),
    tot AS (SELECT CAST(count(DISTINCT fp) AS BIGINT) AS total_fps
            FROM fp_hours)
    SELECT CAST(p.ttl AS BIGINT) AS ttl_hours,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(max(p.state) AS BIGINT) AS max_state,
           CAST(sum(p.state) // count(*) AS BIGINT) AS mean_state,
           t.total_fps
    FROM per_hour p CROSS JOIN tot t
    GROUP BY p.ttl, t.total_fps
    ORDER BY ttl_hours
    """
