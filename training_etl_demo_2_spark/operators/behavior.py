"""Behavioral event analytics: cohort retention and ordered funnels.

The classic product-analytics pair over the events table — both pure
relational plans (no UDF, no driver loop) with exact-integer outputs,
so their DuckDB twins match bit-for-bit.

Scale shapes:

* ``cohort_retention`` — one shuffle on user_id to find each user's
  cohort (first-activity day, a min-aggregate), one shuffle to join
  activity back to cohorts, then a (cohort, offset)-keyed count of
  distinct users. The distinct shuffles user ids once; output size is
  |cohorts| × horizon, metadata scale.
* ``event_funnel`` — per-user ordered stage timestamps via conditional
  MIN aggregates in ONE groupBy pass: the first A, the first B after
  first-A, and the first C after that cannot be expressed as three
  independent mins, so the plan finds first-A in pass 1 and resolves
  later stages with min(CASE) over a self-join-free second aggregate
  per stage (each stage adds one join of per-user scalars — tiny
  relations, broadcastable at any scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import word_ngrams

RETENTION_HORIZON_DAYS = 7
FUNNEL_STAGES = ("view", "click", "purchase")


def cohort_retention(
    events: DataFrame, horizon_days: int = RETENTION_HORIZON_DAYS
) -> DataFrame:
    """(cohort_day, day_offset, n_users): how many of a cohort's users
    were active again ``day_offset`` days after their first activity."""
    day = F.date_trunc("day", F.col("ts"))
    activity = events.select("user_id", day.alias("day")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        activity.join(cohorts, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day").cast("int"))
        .filter(F.col("day_offset") <= horizon_days)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "day_offset",
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


def cohort_retention_sql(horizon_days: int = RETENTION_HORIZON_DAYS) -> str:
    return f"""
    WITH activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), cohorts AS (
        SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(datediff('day', cohort_day, day) AS INT) AS day_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM activity JOIN cohorts USING (user_id)
    WHERE datediff('day', cohort_day, day) <= {horizon_days}
    GROUP BY 1, 2
    """


def event_funnel(
    events: DataFrame, stages: tuple = FUNNEL_STAGES
) -> DataFrame:
    """Ordered-funnel counts: n_users reaching each stage IN ORDER
    (stage k counts users whose first stage-k event follows their
    first-in-order stage-(k-1) event).

    Output: (stage_idx, stage, n_users). Per-user stage timestamps are
    tiny scalar relations joined stage by stage — each join is
    user-keyed and the relations only shrink."""
    base = events.select("user_id", "event_type", "ts")
    reached = None  # (user_id, t_k): first in-order time of stage k
    out_rows = []
    for i, stage in enumerate(stages):
        ev = base.filter(F.col("event_type") == stage)
        if reached is None:
            reached = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
        else:
            reached = (
                ev.join(reached.select("user_id", F.col("t").alias("t_prev")),
                        "user_id")
                .filter(F.col("ts") > F.col("t_prev"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        out_rows.append(
            reached.agg(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_users"),
            )
        )
    res = out_rows[0]
    for o in out_rows[1:]:
        res = res.unionAll(o)
    return res


def event_funnel_sql(stages: tuple = FUNNEL_STAGES) -> str:
    ctes = []
    prev = None
    for i, stage in enumerate(stages):
        name = f"s{i}"
        if prev is None:
            ctes.append(
                f"{name} AS (SELECT user_id, min(ts) AS t FROM events "
                f"WHERE event_type = '{stage}' GROUP BY user_id)"
            )
        else:
            ctes.append(
                f"{name} AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
                f"JOIN {prev} p ON e.user_id = p.user_id AND e.ts > p.t "
                f"WHERE e.event_type = '{stage}' GROUP BY e.user_id)"
            )
        prev = name
    selects = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS stage_idx, '{stage}' AS stage, "
        f"count(*) AS n_users FROM s{i}"
        for i, stage in enumerate(stages)
    )
    return "WITH " + ", ".join(ctes) + " " + selects


def event_transitions(events: DataFrame) -> DataFrame:
    """Next-event transition counts (the first-order Markov view of
    user behavior): for each user's time-ordered event stream, count
    (event_type -> next event_type) pairs across the corpus, with each
    pair's share of all transitions in exact basis points.

    One window shuffle on user_id (the same partitioning every
    sessionize/funnel op uses — co-partitioned at scale) + one small
    groupBy on the 25-cell pair grid."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    counts = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = counts.agg(F.sum("n").cast("long").alias("tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "from_type",
            "to_type",
            "n",
            F.floor(F.col("n") * 10000 / F.col("tot")).cast("long")
            .alias("share_bp"),
        )
    )


EVENT_TRANSITIONS_ORACLE = """
    WITH nxt AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    counts AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM nxt WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    ),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM counts)
    SELECT from_type, to_type, n,
           CAST(floor(n * 10000 / tot) AS BIGINT) AS share_bp
    FROM counts CROSS JOIN total
"""


def session_event_paths(
    t: dict[str, DataFrame],
    gap_minutes: int = 30,
    n: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top event-type paths (order-preserving n-grams) WITHIN sessions:
    the behavioral-mining step after sessionization — which click/
    purchase/error sequences actually happen, ranked by frequency.
    Generalizes ``event_transitions`` (first-order pairs) to n-step
    paths with a session boundary (no path spans a 30-min gap).

    Plan: the sessionize window pass (one user-keyed shuffle, two
    windows sharing the exchange), a per-session ordered collect
    (array_sort on the (ts, event_id) struct — deterministic total
    order), a narrow n-gram transform, and a count + tie-broken top-k
    (TakeOrderedAndProject). Path strings only exist after the
    per-session collapse, so the shuffle carries (user, session)
    groups, never n-gram rows.
    """
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    e = t["events"]
    flagged = e.withColumn(
        "new_session",
        (
            F.col("ts").cast("long")
            - F.coalesce(
                F.lag("ts").over(w_user).cast("long"), F.lit(-gap_s - 1)
            )
            > gap_s
        ).cast("int"),
    ).withColumn(
        "session_seq",
        F.sum("new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    seqs = flagged.groupBy("user_id", "session_seq").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ),
            lambda s: s["event_type"],
        ).alias("types")
    )
    paths = seqs.select(
        F.explode(word_ngrams(F.col("types"), n)).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("path").asc())
        .limit(k)
    )


def session_event_paths_sql(
    gap_minutes: int = 30, n: int = 3, k: int = 20
) -> str:
    gap_s = gap_minutes * 60
    return f"""
    WITH lagged AS (
        SELECT user_id, event_id, ts, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN prev_ts IS NULL
                         OR floor(epoch(ts))::BIGINT
                            - floor(epoch(prev_ts))::BIGINT > {gap_s}
                    THEN 1 ELSE 0 END AS new_session
        FROM lagged
    ),
    sess AS (
        SELECT *,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               )::BIGINT AS session_seq
        FROM flagged
    ),
    seqs AS (
        SELECT user_id, session_seq,
               list(event_type ORDER BY ts, event_id) AS types
        FROM sess GROUP BY user_id, session_seq
    ),
    paths AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(types) - {n - 1}, 0) + 1),
                   i -> array_to_string(types[i:i+{n - 1}], ' ')
               )) AS path
        FROM seqs
    )
    SELECT path, CAST(count(*) AS BIGINT) AS cnt
    FROM paths
    GROUP BY path
    ORDER BY cnt DESC, path ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# session-level event-type association (PMI)
# ---------------------------------------------------------------------------


def event_type_pmi(t: dict[str, "DataFrame"], gap_minutes: int = 30) -> "DataFrame":
    """Pointwise mutual information between event types co-occurring in
    the same session: pmi(a,b) = ln(n_ab·N / (n_a·n_b)) over session
    presence sets — association mining one level above
    ``event_transitions`` (which only sees ADJACENT pairs): positive
    PMI = types that travel together (feature bundles), negative =
    types that repel (alternative flows). Complements the Markov view
    with an order-free one.

    All counts are exact session counts; PMI derives from four exact
    longs through one shared IEEE sequence, rounded to 6. Pairs are
    unordered (type_a < type_b).

    Scale shape: sessionization is the standard two-window pass on the
    user_id exchange; presence sets reduce to DISTINCT (session, type)
    rows BEFORE the pair self-join, which is keyed on the session —
    per-session cost is |types|² ≤ 25, so the join output is bounded
    by 25·|sessions|, never quadratic in events. Marginals and N ride
    in as broadcast relations.
    """
    from pyspark.sql import Window

    e = t["events"]
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    with_sid = (
        e.withColumn(
            "new_session",
            (
                F.col("ts").cast("long")
                - F.coalesce(
                    F.lag("ts").over(w_user).cast("long"), F.lit(-gap_s - 1)
                )
                > gap_s
            ).cast("int"),
        )
        .withColumn(
            "session_seq",
            F.sum("new_session").over(
                w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    pres = with_sid.select("user_id", "session_seq", "event_type").distinct()
    n_sessions = (
        pres.select("user_id", "session_seq")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"))
    )
    marg = pres.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_t")
    )
    a = pres.select("user_id", "session_seq", F.col("event_type").alias("type_a"))
    b = pres.select("user_id", "session_seq", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, ["user_id", "session_seq"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
    )
    ma = marg.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a"))
    mb = marg.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b"))
    return (
        pairs.join(F.broadcast(ma), "type_a")
        .join(F.broadcast(mb), "type_b")
        .crossJoin(F.broadcast(n_sessions))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(
                F.log(
                    (F.col("n_ab") * F.col("n_sessions")).cast("double")
                    / (F.col("n_a") * F.col("n_b")).cast("double")
                ),
                6,
            ).alias("pmi"),
        )
    )


def event_type_pmi_sql(gap_minutes: int = 30) -> str:
    gap_s = gap_minutes * 60
    return f"""
    WITH lagged AS (
        SELECT user_id, event_id, ts, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN prev_ts IS NULL
                         OR floor(epoch(ts))::BIGINT - floor(epoch(prev_ts))::BIGINT > {gap_s}
                    THEN 1 ELSE 0 END AS new_session
        FROM lagged
    ),
    sess AS (
        SELECT *,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING
               )::BIGINT AS session_seq
        FROM flagged
    ),
    pres AS (SELECT DISTINCT user_id, session_seq, event_type FROM sess),
    n_sessions AS (
        SELECT CAST(count(*) AS BIGINT) AS n_sessions
        FROM (SELECT DISTINCT user_id, session_seq FROM pres)
    ),
    marg AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_t
        FROM pres GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(count(*) AS BIGINT) AS n_ab
        FROM pres a
        JOIN pres b ON a.user_id = b.user_id
                   AND a.session_seq = b.session_seq
                   AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_ab,
           round(ln(CAST(p.n_ab * n.n_sessions AS DOUBLE)
                    / CAST(ma.n_t * mb.n_t AS DOUBLE)), 6) AS pmi
    FROM pairs p
    JOIN marg ma ON ma.event_type = p.type_a
    JOIN marg mb ON mb.event_type = p.type_b
    CROSS JOIN n_sessions n
    """


# ---------------------------------------------------------------------------
# funnel conversion latency
# ---------------------------------------------------------------------------


def funnel_latency(
    events: DataFrame, stages: tuple = FUNNEL_STAGES
) -> DataFrame:
    """Time-to-convert distribution for each consecutive funnel step:
    among users who reached stage k IN ORDER (same first-in-order
    semantics as ``event_funnel``), the latency from their stage-(k-1)
    time to their stage-k time.

    Latency is differenced in integer MICROSECONDS (``unix_micros`` on
    the normalized TIMESTAMP) and only then scaled to seconds, so the
    per-user values are exact on both engines; the percentile
    interpolation runs over identical inputs. Per-user stage times are
    the same shrinking user-keyed scalar relations as the funnel —
    each step adds one join that only gets smaller, and the final
    output is |stages|-1 rows. Output: (stage_idx, from_stage,
    to_stage, n_users, p50_s, p90_s, mean_s).
    """
    if len(stages) < 2:
        raise ValueError("funnel_latency needs >= 2 stages")
    base = events.select("user_id", "event_type", "ts")
    reached = None
    lat_rows = []
    for i, stage in enumerate(stages):
        ev = base.filter(F.col("event_type") == stage)
        if reached is None:
            reached = ev.groupBy("user_id").agg(F.min("ts").alias("t"))
            continue
        nxt = (
            ev.join(
                reached.select("user_id", F.col("t").alias("t_prev")), "user_id"
            )
            .filter(F.col("ts") > F.col("t_prev"))
            .groupBy("user_id")
            .agg(F.min("ts").alias("t"), F.min("t_prev").alias("t_prev"))
        )
        lat = nxt.select(
            (
                (F.unix_micros("t") - F.unix_micros("t_prev")) / F.lit(1_000_000.0)
            ).alias("lat_s")
        )
        lat_rows.append(
            lat.agg(
                F.lit(i).cast("int").alias("stage_idx"),
                F.lit(stages[i - 1]).alias("from_stage"),
                F.lit(stage).alias("to_stage"),
                F.count(F.lit(1)).cast("long").alias("n_users"),
                F.round(F.percentile("lat_s", F.lit(0.5)), 4).alias("p50_s"),
                F.round(F.percentile("lat_s", F.lit(0.9)), 4).alias("p90_s"),
                F.round(F.avg("lat_s"), 4).alias("mean_s"),
            )
        )
        reached = nxt.select("user_id", "t")
    res = lat_rows[0]
    for o in lat_rows[1:]:
        res = res.unionAll(o)
    return res


def funnel_latency_sql(stages: tuple = FUNNEL_STAGES) -> str:
    """DuckDB twin of funnel_latency: identical in-order stage CTE
    chain; latency differenced in integer microseconds first."""
    if len(stages) < 2:
        raise ValueError("funnel_latency_sql needs >= 2 stages")
    ctes = [
        f"s0 AS (SELECT user_id, min(ts) AS t FROM events "
        f"WHERE event_type = '{stages[0]}' GROUP BY user_id)"
    ]
    selects = []
    for i in range(1, len(stages)):
        ctes.append(
            f"s{i} AS (SELECT e.user_id, min(e.ts) AS t, min(p.t) AS t_prev "
            f"FROM events e JOIN s{i - 1} p ON e.user_id = p.user_id "
            f"AND e.ts > p.t WHERE e.event_type = '{stages[i]}' "
            f"GROUP BY e.user_id)"
        )
        ctes.append(
            f"l{i} AS (SELECT date_diff('microsecond', t_prev, t) / 1000000.0 "
            f"AS lat_s FROM s{i})"
        )
        selects.append(
            f"SELECT CAST({i} AS INT) AS stage_idx, "
            f"'{stages[i - 1]}' AS from_stage, '{stages[i]}' AS to_stage, "
            f"count(*) AS n_users, "
            f"round(quantile_cont(lat_s, 0.5), 4) AS p50_s, "
            f"round(quantile_cont(lat_s, 0.9), 4) AS p90_s, "
            f"round(avg(lat_s), 4) AS mean_s FROM l{i}"
        )
    return "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(selects)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival (user churn)
# ---------------------------------------------------------------------------

KM_CHURN_DAYS = 7


def _churn_risk_set(events: DataFrame, churn_days: int) -> DataFrame:
    """The duration relation of the survival estimators (Kaplan-Meier
    and Nelson-Aalen): one row per whole-day user lifetime
    (last − first event date) with ``n_at`` users of that duration,
    ``n_events`` of them churned (last event more than ``churn_days``
    before the observation edge, the ONE-ROW max-ts aggregate; the
    rest are right-censored) and ``n_risk``, the users whose duration
    is at least this one (total − running count below)."""
    from pyspark.sql import Window

    spans = events.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    edge = events.agg(F.max("ts").alias("edge_ts"))
    per_user = spans.crossJoin(F.broadcast(edge)).select(
        F.datediff(F.to_date("last_ts"), F.to_date("first_ts")).alias(
            "duration_days"
        ),
        (
            F.col("last_ts")
            < F.col("edge_ts") - F.expr(f"INTERVAL {churn_days} DAYS")
        )
        .cast("int")
        .alias("churned"),
    )
    by_dur = per_user.groupBy("duration_days").agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum("churned").cast("long").alias("n_events"),
    )
    return by_dur.withColumn(
        "n_risk",
        F.sum("n_at")
        .over(
            Window.orderBy("duration_days").rowsBetween(
                Window.currentRow, Window.unboundedFollowing
            )
        )
        .cast("long"),
    )


def _churn_risk_set_cte(churn_days: int) -> str:
    """Twin of ``_churn_risk_set``: the CTE chain spans, edge,
    per_user, by_dur, ending at ``risked(duration_days, n_at,
    n_events, n_risk)``."""
    return f"""spans AS (
        SELECT user_id, min(ts) AS first_ts, max(ts) AS last_ts
        FROM events GROUP BY 1
    ),
    edge AS (SELECT max(ts) AS edge_ts FROM events),
    per_user AS (
        SELECT datediff('day', CAST(first_ts AS DATE),
                        CAST(last_ts AS DATE)) AS duration_days,
               CAST(last_ts < edge_ts - INTERVAL {churn_days} DAY AS INT)
                   AS churned
        FROM spans CROSS JOIN edge
    ),
    by_dur AS (
        SELECT duration_days,
               CAST(count(*) AS BIGINT) AS n_at,
               CAST(sum(churned) AS BIGINT) AS n_events
        FROM per_user GROUP BY 1
    ),
    risked AS (
        SELECT duration_days, n_at, n_events,
               CAST(sum(n_at) OVER (ORDER BY duration_days
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS BIGINT) AS n_risk
        FROM by_dur
    )"""


def kaplan_meier_churn(
    events: DataFrame, churn_days: int = KM_CHURN_DAYS
) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime with right
    censoring — the statistically correct churn read: a user whose
    last event is within ``churn_days`` of the observation edge has
    NOT churned, only been observed for a shorter window, and naive
    "days until last event" histograms silently treat those users as
    dead (the classic censoring bias). S(t) = Π_{t'<=t}
    (1 − d_{t'}/n_{t'}) over churn durations t'.

    Relational shape: per-user (first, last) is one aggregate; the
    duration relation reduces to per-duration (events, at-risk) rows —
    AT MOST horizon-days rows — and the product runs over that
    metadata-sized relation as exp(Σ ln), with each ln term ROUNDED TO
    INTEGER NANO-UNITS before the cumulative sum so the product is
    order-invariant and engine-identical. The observation edge is a
    ONE-ROW max-ts aggregate broadcast into the censor rule. Output:
    (duration_days, n_risk, n_events, surv).
    """
    from pyspark.sql import Window

    risked = _churn_risk_set(events, churn_days)
    w_ord = Window.orderBy("duration_days")
    f = 1.0 - F.col("n_events").cast("double") / F.col("n_risk")
    ln_nano = F.when(
        F.col("n_events") < F.col("n_risk"),
        F.floor(F.log(f) * 1e9 + F.lit(0.5)).cast("long"),
    ).otherwise(F.lit(None))
    scored = risked.withColumn("ln_nano", ln_nano).withColumn(
        "hit_zero",
        F.max((F.col("n_events") == F.col("n_risk")).cast("int")).over(
            w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    surv = F.when(
        F.col("hit_zero") == 1, F.lit(0.0)
    ).otherwise(
        F.exp(
            F.sum("ln_nano")
            .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            / 1e9
        )
    )
    return scored.filter(F.col("n_events") > 0).select(
        "duration_days",
        "n_risk",
        "n_events",
        F.round(surv, 6).alias("surv"),
    )


def kaplan_meier_churn_sql(churn_days: int = KM_CHURN_DAYS) -> str:
    """Twin of kaplan_meier_churn: the shared duration relation and
    the identical nano ln lattice."""
    return f"""
    WITH {_churn_risk_set_cte(churn_days)},
    scored AS (
        SELECT duration_days, n_events, n_risk,
               CASE WHEN n_events < n_risk
                    THEN CAST(floor(ln(1.0 - n_events * 1.0 / n_risk) * 1e9
                                    + 0.5) AS BIGINT)
                    ELSE NULL END AS ln_nano,
               max(CASE WHEN n_events = n_risk THEN 1 ELSE 0 END) OVER (
                   ORDER BY duration_days
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS hit_zero
        FROM risked
    )
    SELECT duration_days,
           n_risk,
           CAST(n_events AS BIGINT) AS n_events,
           round(CASE WHEN hit_zero = 1 THEN 0.0
                      ELSE exp(sum(ln_nano) OVER (
                          ORDER BY duration_days
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                      ) / 1e9) END, 6) AS surv
    FROM scored
    WHERE n_events > 0
    """


# ---------------------------------------------------------------------------
# recency-decayed engagement score
# ---------------------------------------------------------------------------

DECAY_TAU_DAYS = 7.0


def decayed_engagement(
    events: DataFrame, tau_days: float = DECAY_TAU_DAYS
) -> DataFrame:
    """Exponentially time-decayed per-user engagement: Σ value ·
    exp(−Δt/τ) with Δt measured back from the corpus observation edge
    — the standard recency-weighted activity feature (a user's last
    week counts ~e× their week before). Plain sums treat a year-old
    burst like yesterday's; a cutoff window throws history away
    entirely; the decay is the principled middle.

    Determinism: Δt comes from integer microseconds (exact on both
    engines); each event's contribution is rounded to integer
    NANO-UNITS before the per-user sum, so accumulation order cannot
    move the score. One user-keyed aggregate after a ONE-ROW edge
    broadcast; at 100 TB the same statistic maintains incrementally —
    multiply the carried score by exp(−δ/τ) per day and add the day's
    events (the decay property that makes it streaming-friendly).
    Output: (user_id, n_events, score) with score = Σ nano / 1e9.
    """
    edge = events.agg(F.max("ts").alias("edge_ts"))
    dt_days = (
        F.unix_micros("edge_ts") - F.unix_micros("ts")
    ).cast("double") / F.lit(86_400_000_000.0)
    contrib_nano = F.floor(
        F.col("value") * F.exp(-dt_days / F.lit(tau_days)) * 1e9 + F.lit(0.5)
    ).cast("long")
    return (
        events.crossJoin(F.broadcast(edge))
        .select("user_id", contrib_nano.alias("cn"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("cn") / 1e9, 6).alias("score"),
        )
    )


def decayed_engagement_sql(tau_days: float = DECAY_TAU_DAYS) -> str:
    return f"""
    WITH edge AS (SELECT max(ts) AS edge_ts FROM events),
    scored AS (
        SELECT user_id,
               CAST(floor(value * exp(-(CAST(date_diff('microsecond', ts,
                         edge_ts) AS DOUBLE) / 86400000000.0) / {tau_days})
                         * 1e9 + 0.5) AS BIGINT) AS cn
        FROM events CROSS JOIN edge
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(CAST(sum(cn) AS BIGINT) / 1e9, 6) AS score
    FROM scored
    GROUP BY user_id
    """


# ---------------------------------------------------------------------------
# linear multi-touch attribution
# ---------------------------------------------------------------------------

ATTRIB_WINDOW_US = 3_600_000_000  # 1 hour


def linear_attribution(events: DataFrame) -> DataFrame:
    """LINEAR multi-touch attribution: each purchase splits one unit of
    credit equally across ALL the user's clicks in the preceding hour —
    the many-touch complement of ``stream_click_attribution``'s
    last-touch rule (last-touch over-credits the final click; linear is
    the standard first-order correction). Credit per click is rounded
    to integer nano-units per (purchase, click) pair before the hourly
    integer sum, so accumulation order is immaterial.

    Physical shape: the click↔purchase pairing is the banded interval
    join (equi-join on (user, hour-bucket), exact predicate re-filter)
    — candidate fan-out is span/width+1 = 2 buckets per purchase, never
    a per-user nested loop; the per-purchase fan-out count k comes from
    one purchase-keyed window over the matched pairs. Output:
    (click_hour, n_credit_events, credit) — a click inside TWO
    purchases' windows contributes two credit events (that is the
    linear model: credit is per (purchase, click) pair, not per
    distinct click).
    """
    from pyspark.sql import Window

    from .temporal import banded_range_join

    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("c_us"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        (F.unix_micros("ts") - F.lit(ATTRIB_WINDOW_US)).alias("lo_us"),
        (F.unix_micros("ts") - F.lit(1)).alias("hi_us"),
    )
    pairs = banded_range_join(
        clicks,
        purchases,
        on="user_id",
        point_ts="c_us",
        interval_lo="lo_us",
        interval_hi="hi_us",
        max_span=ATTRIB_WINDOW_US,
    )
    k = F.count(F.lit(1)).over(Window.partitionBy("p_id"))
    credited = pairs.select(
        "c_us",
        F.floor(F.lit(1e9) / k + F.lit(0.5)).cast("long").alias("credit_nano"),
    )
    hour = F.date_format(
        F.timestamp_micros(F.col("c_us") - F.col("c_us") % 3_600_000_000),
        "yyyy-MM-dd HH:00",
    )
    return (
        credited.groupBy(hour.alias("click_hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_credit_events"),
            F.round(F.sum("credit_nano") / 1e9, 6).alias("credit"),
        )
    )


LINEAR_ATTRIBUTION_SQL = f"""
    WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS c_us FROM events
        WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, event_id AS p_id,
               epoch_us(ts) - {ATTRIB_WINDOW_US} AS lo_us,
               epoch_us(ts) - 1 AS hi_us
        FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
        SELECT c.c_us, p.p_id
        FROM clicks c JOIN purchases p
          ON c.user_id = p.user_id
         AND c.c_us >= p.lo_us AND c.c_us <= p.hi_us
    ),
    credited AS (
        SELECT c_us,
               CAST(floor(1e9 / (count(*) OVER (PARTITION BY p_id)) + 0.5)
                    AS BIGINT) AS credit_nano
        FROM pairs
    )
    SELECT strftime(make_timestamp((c_us - c_us % 3600000000)),
                    '%Y-%m-%d %H:00') AS click_hour,
           CAST(count(*) AS BIGINT) AS n_credit_events,
           round(CAST(sum(credit_nano) AS BIGINT) / 1e9, 6) AS credit
    FROM credited
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# deterministic A/B experiment analysis
# ---------------------------------------------------------------------------

AB_SEED = (910_099_523, 362_543_777, 2_466_922_391 % 1_000_000_007, 77_003_621)


def ab_test_zscore(t: dict[str, DataFrame]) -> DataFrame:
    """Two-proportion z-test over a deterministic hash-bucketed A/B
    split: users land in variant A/B by a nonlinear hash of user_id
    (the standard sticky, stateless experiment assignment — no
    assignment table, rejoinable from the id alone), the metric is
    purchase conversion (did the user ever fire a 'purchase' event),
    and the pooled-variance z statistic decides significance at
    α=0.05. On unmanipulated fixture data the test MUST come back
    null — an A/A test — which is exactly the property the planted
    pytest inverts by boosting one bucket.

    Exactness: conversion counts are integers; conv_bp uses integer
    floor-division; only z divides doubles (identical formula both
    engines).

    Scale shape: events collapse to per-user flags in one groupBy
    (map-side partial on user_id), then to TWO variant rows; the z
    arithmetic runs on the 2-row relation via a metadata window. No
    data-sized window, no crossJoin.
    """
    from .sketches import _hll_mix_spark

    ev = t["events"]
    per_user = ev.groupBy(F.col("user_id").cast("long").alias("uid")).agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv")
    )
    variant = F.when(
        _hll_mix_spark(F.col("uid"), AB_SEED) % 2 == 0, "A"
    ).otherwise("B")
    per_var = per_user.select(variant.alias("variant"), "conv").groupBy(
        "variant"
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("conv").cast("long").alias("n_conv"),
    )
    w_all = Window.partitionBy()  # 2-row metadata relation
    n_tot = F.sum("n_users").over(w_all)
    c_tot = F.sum("n_conv").over(w_all)
    n_other = (n_tot - F.col("n_users")).cast("double")
    c_other = (c_tot - F.col("n_conv")).cast("double")
    p_self = F.col("n_conv").cast("double") / F.col("n_users").cast("double")
    p_other = c_other / n_other
    p_pool = c_tot.cast("double") / n_tot.cast("double")
    se = F.sqrt(
        p_pool
        * (1.0 - p_pool)
        * (
            1.0 / F.col("n_users").cast("double")
            + 1.0 / n_other
        )
    )
    z = F.when(se > 0, (p_self - p_other) / se).otherwise(F.lit(0.0))
    return per_var.select(
        "variant",
        "n_users",
        "n_conv",
        (
            (F.col("n_conv") * 10000 - (F.col("n_conv") * 10000)
             % F.col("n_users"))
            / F.col("n_users")
        )
        .cast("long")
        .alias("conv_bp"),
        F.round(z, 6).alias("z_r6"),
        (F.abs(z) > 1.96).cast("int").alias("significant"),
    )


def ab_test_zscore_sql() -> str:
    """Twin of ab_test_zscore: identical mix, pooled-variance z."""
    from .sketches import _hll_mix_sql

    mix = _hll_mix_sql("uid", AB_SEED)
    return f"""
    WITH per_user AS (
        SELECT user_id AS uid,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    per_var AS (
        SELECT CASE WHEN {mix} % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM per_user GROUP BY 1
    ),
    tot AS (
        SELECT *,
               CAST(sum(n_users) OVER () AS BIGINT) AS n_tot,
               CAST(sum(n_conv) OVER () AS BIGINT) AS c_tot
        FROM per_var
    ),
    calc AS (
        SELECT *,
               CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p_self,
               CAST(c_tot - n_conv AS DOUBLE)
                   / CAST(n_tot - n_users AS DOUBLE) AS p_other,
               CAST(c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS p_pool
        FROM tot
    ),
    zed AS (
        SELECT variant, n_users, n_conv,
               CASE WHEN sqrt(p_pool * (1.0 - p_pool)
                              * (1.0 / CAST(n_users AS DOUBLE)
                                 + 1.0 / CAST(n_tot - n_users AS DOUBLE)))
                         > 0
                    THEN (p_self - p_other)
                         / sqrt(p_pool * (1.0 - p_pool)
                                * (1.0 / CAST(n_users AS DOUBLE)
                                   + 1.0 / CAST(n_tot - n_users
                                                AS DOUBLE)))
                    ELSE 0.0 END AS z
        FROM calc
    )
    SELECT variant, n_users, n_conv,
           CAST(n_conv * 10000 // n_users AS BIGINT) AS conv_bp,
           round(z, 6) AS z_r6,
           CAST(abs(z) > 1.96 AS INT) AS significant
    FROM zed
    """


# ---------------------------------------------------------------------------
# A/B uplift with bootstrap CI
# ---------------------------------------------------------------------------

AB_BOOT_B = 200
AB_BOOT_SEED = (677_565_383, 522_668_951, 3_267_000_013 % 1_000_000_007,
                411_949_103)
AB_BOOT_K_LO = 5
AB_BOOT_K_HI = AB_BOOT_B + 1 - AB_BOOT_K_LO


def ab_uplift_bootstrap_ci(t: dict[str, DataFrame]) -> DataFrame:
    """Bootstrap confidence interval for the A/B conversion UPLIFT
    (rate_A − rate_B): the distribution-free companion to
    ab_test_zscore's normal approximation, composed from the same
    deterministic machinery — hash-bucketed assignment, per-USER
    Poisson(1) resampling (cluster bootstrap: users are the i.i.d.
    unit, so all of a user's events stay together), rank-based 95%
    bounds over B=200 resample uplifts. Significant iff the CI
    excludes zero.

    Scale shape: events collapse to per-user flags once; the B-fold
    explode feeds a partial map-side aggregate on (b, variant), so
    the exchange carries 2B rows per task; the CI window runs over B
    metadata rows; the point estimate joins as a ONE-ROW broadcast
    (allowlisted). Output: one row.
    """
    from ..functions import FNV_MOD  # noqa: F401  (shared constants doc)
    from .sketches import _hll_mix_spark

    ev = t["events"]
    per_user = ev.groupBy(F.col("user_id").cast("long").alias("uid")).agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv")
    )
    in_a = (_hll_mix_spark(F.col("uid"), AB_SEED) % 2 == 0).cast("long")
    pu = per_user.select("uid", "conv", in_a.alias("is_a"))
    point = pu.agg(
        F.sum("is_a").cast("long").alias("n_a"),
        (F.count(F.lit(1)) - F.sum("is_a")).cast("long").alias("n_b"),
        F.sum(F.col("is_a") * F.col("conv")).cast("long").alias("c_a"),
        F.sum((1 - F.col("is_a")) * F.col("conv")).cast("long").alias("c_b"),
    )
    b = F.explode(F.sequence(F.lit(0), F.lit(AB_BOOT_B - 1))).alias("b")
    ex = pu.select("uid", "conv", "is_a", b).withColumn(
        "b", F.col("b").cast("long")
    )
    u = _hll_mix_spark(F.col("uid") * AB_BOOT_B + F.col("b"), AB_BOOT_SEED)
    from .validation import BOOT_THRESH

    w = F.lit(6)
    for kk in range(len(BOOT_THRESH) - 1, -1, -1):
        w = F.when(u < BOOT_THRESH[kk], kk).otherwise(w)
    per_b = (
        ex.select("b", "is_a", (w * F.col("conv")).alias("wc"), w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("is_a") * F.col("wc")).cast("long").alias("ca"),
            F.sum(F.col("is_a") * F.col("w")).cast("long").alias("na"),
            F.sum((1 - F.col("is_a")) * F.col("wc")).cast("long").alias("cb"),
            F.sum((1 - F.col("is_a")) * F.col("w")).cast("long").alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "b",
            (
                F.col("ca").cast("double") / F.col("na").cast("double")
                - F.col("cb").cast("double") / F.col("nb").cast("double")
            ).alias("uplift_b"),
        )
    )
    w_rank = Window.orderBy("uplift_b", "b")  # B-row metadata relation
    ranked = per_b.withColumn("rk", F.row_number().over(w_rank))
    ci = ranked.agg(
        F.count(F.lit(1)).alias("n_boot"),
        F.max(F.when(F.col("rk") == AB_BOOT_K_LO, F.col("uplift_b"))).alias(
            "lo"
        ),
        F.max(F.when(F.col("rk") == AB_BOOT_K_HI, F.col("uplift_b"))).alias(
            "hi"
        ),
    )
    out = point.crossJoin(F.broadcast(ci))
    uplift = F.col("c_a").cast("double") / F.col("n_a").cast(
        "double"
    ) - F.col("c_b").cast("double") / F.col("n_b").cast("double")
    return out.select(
        "n_a",
        "n_b",
        "n_boot",
        F.round(uplift, 6).alias("uplift_r6"),
        F.round(F.col("lo"), 6).alias("ci_lo_r6"),
        F.round(F.col("hi"), 6).alias("ci_hi_r6"),
        ((F.col("lo") > 0) | (F.col("hi") < 0)).cast("int").alias(
            "significant"
        ),
    )


def ab_uplift_bootstrap_ci_sql() -> str:
    """Twin of ab_uplift_bootstrap_ci: identical mixes, thresholds,
    rank-based CI."""
    from .sketches import _hll_mix_sql
    from .validation import BOOT_THRESH

    assign = _hll_mix_sql("uid", AB_SEED)
    mix = _hll_mix_sql(f"(uid * {AB_BOOT_B} + b)", AB_BOOT_SEED)
    whens = "\n".join(
        f"               WHEN u < {t} THEN {k}"
        for k, t in enumerate(BOOT_THRESH)
    )
    return f"""
    WITH per_user AS (
        SELECT user_id AS uid,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    flagged AS (
        SELECT uid, conv,
               CASE WHEN {assign} % 2 = 0 THEN 1 ELSE 0 END AS is_a
        FROM per_user
    ),
    point AS (
        SELECT CAST(sum(is_a) AS BIGINT) AS n_a,
               CAST(count(*) - sum(is_a) AS BIGINT) AS n_b,
               CAST(sum(is_a * conv) AS BIGINT) AS c_a,
               CAST(sum((1 - is_a) * conv) AS BIGINT) AS c_b
        FROM flagged
    ),
    ex AS (
        SELECT uid, conv, is_a, b
        FROM flagged, unnest(range(0, {AB_BOOT_B})) AS t(b)
    ),
    wts AS (
        SELECT b, conv, is_a,
               CASE
{whens}
               ELSE 6 END AS w
        FROM (SELECT *, {mix} AS u FROM ex)
    ),
    per_b AS (
        SELECT b,
               CAST(sum(is_a * w * conv) AS BIGINT) AS ca,
               CAST(sum(is_a * w) AS BIGINT) AS na,
               CAST(sum((1 - is_a) * w * conv) AS BIGINT) AS cb,
               CAST(sum((1 - is_a) * w) AS BIGINT) AS nb
        FROM wts GROUP BY 1
        HAVING sum(is_a * w) > 0 AND sum((1 - is_a) * w) > 0
    ),
    ranked AS (
        SELECT b,
               CAST(ca AS DOUBLE) / CAST(na AS DOUBLE)
               - CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) AS uplift_b,
               row_number() OVER (ORDER BY CAST(ca AS DOUBLE)
                                  / CAST(na AS DOUBLE)
                                  - CAST(cb AS DOUBLE)
                                    / CAST(nb AS DOUBLE), b) AS rk
        FROM per_b
    ),
    ci AS (
        SELECT CAST(count(*) AS BIGINT) AS n_boot,
               max(CASE WHEN rk = {AB_BOOT_K_LO} THEN uplift_b END) AS lo,
               max(CASE WHEN rk = {AB_BOOT_K_HI} THEN uplift_b END) AS hi
        FROM ranked
    )
    SELECT n_a, n_b, n_boot,
           round(CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6)
               AS uplift_r6,
           round(lo, 6) AS ci_lo_r6,
           round(hi, 6) AS ci_hi_r6,
           CAST(lo > 0 OR hi < 0 AS INT) AS significant
    FROM point CROSS JOIN ci
    """


MARKOV_HORIZON = 16


def _markov_transitions(events: DataFrame) -> DataFrame:
    """(src, dst, cnt) first-order transition counts over per-user
    journeys truncated at the FIRST purchase: START → first touch,
    touch → touch, and a terminal edge last-touch → CONV (converted)
    or → NULLSTATE (journey ended without purchase). The purchase
    event itself is the CONV absorption, not a touch."""
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = events.withColumn(
        "p_ord",
        F.min(
            F.when(
                F.col("event_type") == "purchase",
                F.struct("ts", "event_id"),
            )
        ).over(Window.partitionBy("user_id")),
    )
    touches = marked.filter(
        F.col("p_ord").isNull()
        | (F.struct("ts", "event_id") < F.col("p_ord"))
    )
    trans = touches.select(
        F.coalesce(
            F.lag("event_type", 1).over(w_user), F.lit("START")
        ).alias("src"),
        F.col("event_type").alias("dst"),
    )
    conv_flag = marked.groupBy("user_id").agg(
        F.max(F.col("p_ord").isNotNull()).alias("converted")
    )
    last = touches.groupBy("user_id").agg(
        F.max_by("event_type", F.struct("ts", "event_id")).alias(
            "last_touch"
        )
    )
    per_user = conv_flag.join(last, "user_id", "left")
    term = per_user.select(
        F.coalesce(F.col("last_touch"), F.lit("START")).alias("src"),
        F.when(F.col("converted"), F.lit("CONV"))
        .otherwise(F.lit("NULLSTATE"))
        .alias("dst"),
    )
    return (
        trans.unionByName(term)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def markov_attribution(
    events: DataFrame, horizon: int = MARKOV_HORIZON
) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016): model
    per-user journeys as a first-order chain over touch channels with
    CONV/NULLSTATE absorption, compute the START→CONV absorption
    probability P, then for each channel c recompute it with c's
    incoming edges redirected to loss (NO renormalization — the
    defining removal-effect rule); channel credit is
    RE_c = (P − P_c)/P, and conversions are attributed
    proportionally. The principled complement to the positional
    ``linear_attribution`` — a channel that only ever appears on
    already-doomed paths earns ~0 here even if it touches many
    journeys.

    Absorption is evaluated by ``horizon``-step value iteration with
    every (state, next-state) contribution nano-rounded BEFORE its
    integer sum (order-invariant, cross-engine identical); the
    truncation horizon is part of the statistic's definition, shared
    with the oracle twin (which unrolls the same iteration as chained
    CTEs).

    Scale shape: journeys collapse to a (src, dst) count relation via
    per-user windows (key-partitioned); ONLY the ≤(|channels|+2)²
    transition matrix — bounded by the event-type registry, not the
    data — is collected for the value iteration, mirroring the
    driver-trained-codebook pattern. Output: one row per channel.
    """
    import math

    counts = _markov_transitions(events).collect()
    chans = sorted(
        {r["src"] for r in counts if r["src"] != "START"}
        | {r["dst"] for r in counts if r["dst"] not in ("CONV", "NULLSTATE")}
    )
    out_tot: dict[str, int] = {}
    for r in counts:
        out_tot[r["src"]] = out_tot.get(r["src"], 0) + int(r["cnt"])
    p = {
        (r["src"], r["dst"]): int(r["cnt"]) / out_tot[r["src"]]
        for r in counts
    }
    n_conv = sum(int(r["cnt"]) for r in counts if r["dst"] == "CONV")
    states = ["START"] + chans

    def absorb_nano(removed: str | None) -> int:
        vn = {s: 0 for s in states}
        for _ in range(horizon):
            new = {}
            for s in states:
                acc = 0
                pc = p.get((s, "CONV"))
                if pc is not None:
                    acc += math.floor(pc * 1e9 + 0.5)
                for t in chans:
                    if t == removed:
                        continue
                    pt = p.get((s, t))
                    if pt is not None:
                        acc += math.floor(pt * (vn[t] / 1e9) * 1e9 + 0.5)
                new[s] = acc
            vn = new
        return vn["START"]

    base = absorb_nano(None)
    re_nanos = {
        c: (
            math.floor((base - absorb_nano(c)) / base * 1e9 + 0.5)
            if base > 0
            else None
        )
        for c in chans
    }
    tot_re = sum(v for v in re_nanos.values() if v is not None)
    rows = []
    for c in chans:
        rn = re_nanos[c]
        # floor-based rounding on BOTH sides (Python round() is
        # half-even; SQL round() is half-away — avoid the mismatch)
        rows.append(
            (
                c,
                rn,
                math.floor(rn / 1e9 * 1e6 + 0.5) / 1e6
                if rn is not None
                else None,
                math.floor(rn / tot_re * n_conv * 1e4 + 0.5) / 1e4
                if rn is not None and tot_re > 0
                else None,
            )
        )
    return events.sparkSession.createDataFrame(
        rows,
        "channel string, re_nano long, re_r6 double, attributed_r4 double",
    ).orderBy("channel")


def markov_attribution_sql(horizon: int = MARKOV_HORIZON) -> str:
    """Twin of markov_attribution: identical journey truncation,
    transition counts, nano-rounded value iteration (the fixed
    horizon is UNROLLED as chained CTEs v1..vH — no recursive-CTE
    aggregate restrictions), and attribution arithmetic."""
    steps = []
    for i in range(1, horizon + 1):
        prev = "v0" if i == 1 else f"v{i - 1}"
        steps.append(f"""
    v{i} AS MATERIALIZED (
        SELECT g.rm, g.s,
               coalesce(cv.conv_nano, 0)
               + coalesce(CAST(sum(CAST(floor(
                     pt.pr * (CAST(pv.vn AS DOUBLE) / 1e9) * 1e9 + 0.5
                 ) AS BIGINT)) AS BIGINT), 0) AS vn
        FROM grid g
        LEFT JOIN conv cv ON cv.src = g.s
        LEFT JOIN p pt ON pt.src = g.s AND pt.dst != g.rm
        LEFT JOIN {prev} pv ON pv.rm = g.rm AND pv.s = pt.dst
        GROUP BY g.rm, g.s, cv.conv_nano
    )""")
    chain = ",".join(steps)
    return f"""
    WITH marked AS (
        SELECT user_id, ts, event_id, event_type,
               min(CASE WHEN event_type = 'purchase'
                        THEN struct_pack(ts := ts, event_id := event_id)
                   END) OVER (PARTITION BY user_id) AS p_ord
        FROM events
    ),
    touches AS (
        SELECT user_id, ts, event_id, event_type FROM marked
        WHERE p_ord IS NULL
           OR struct_pack(ts := ts, event_id := event_id) < p_ord
    ),
    trans AS (
        SELECT coalesce(lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ), 'START') AS src,
               event_type AS dst
        FROM touches
    ),
    conv_flag AS (
        SELECT user_id, max(p_ord IS NOT NULL) AS converted
        FROM marked GROUP BY 1
    ),
    last AS (
        SELECT user_id,
               max_by(event_type,
                      CAST(epoch_us(ts) AS HUGEINT) * 1000000000
                      + event_id) AS last_touch
        FROM touches GROUP BY 1
    ),
    per_user AS (
        SELECT c.user_id, c.converted, l.last_touch
        FROM conv_flag c LEFT JOIN last l USING (user_id)
    ),
    term AS (
        SELECT coalesce(last_touch, 'START') AS src,
               CASE WHEN converted THEN 'CONV' ELSE 'NULLSTATE' END AS dst
        FROM per_user
    ),
    counts AS MATERIALIZED (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT src, dst FROM trans
              UNION ALL SELECT src, dst FROM term)
        GROUP BY 1, 2
    ),
    outtot AS (
        SELECT src, CAST(sum(cnt) AS BIGINT) AS tot FROM counts GROUP BY 1
    ),
    praw AS (
        SELECT c.src, c.dst,
               CAST(c.cnt AS DOUBLE) / CAST(o.tot AS DOUBLE) AS pr
        FROM counts c JOIN outtot o USING (src)
    ),
    chans AS (
        SELECT DISTINCT ch FROM (
            SELECT src AS ch FROM counts WHERE src != 'START'
            UNION
            SELECT dst AS ch FROM counts
            WHERE dst NOT IN ('CONV', 'NULLSTATE')
        )
    ),
    p AS MATERIALIZED (
        SELECT praw.* FROM praw JOIN chans ON chans.ch = praw.dst
    ),
    conv AS MATERIALIZED (
        SELECT src, CAST(floor(pr * 1e9 + 0.5) AS BIGINT) AS conv_nano
        FROM praw WHERE dst = 'CONV'
    ),
    states AS (
        SELECT 'START' AS s UNION ALL SELECT ch AS s FROM chans
    ),
    removed AS (
        SELECT ch AS rm FROM chans UNION ALL SELECT 'NONE' AS rm
    ),
    grid AS MATERIALIZED (
        SELECT r.rm, st.s FROM removed r CROSS JOIN states st
    ),
    nconv AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n_conv
        FROM counts WHERE dst = 'CONV'
    ),
    v0 AS (SELECT rm, s, CAST(0 AS BIGINT) AS vn FROM grid),
    {chain},
    finals AS (
        SELECT rm, vn FROM v{horizon} WHERE s = 'START'
    ),
    base AS (SELECT vn AS base_vn FROM finals WHERE rm = 'NONE'),
    re AS (
        SELECT f.rm AS channel,
               CASE WHEN b.base_vn > 0 THEN CAST(floor(
                   (CAST(b.base_vn AS DOUBLE) - CAST(f.vn AS DOUBLE))
                   / CAST(b.base_vn AS DOUBLE) * 1e9 + 0.5) AS BIGINT)
               END AS re_nano
        FROM finals f CROSS JOIN base b
        WHERE f.rm != 'NONE'
    ),
    tot AS (SELECT CAST(sum(re_nano) AS BIGINT) AS tot_re FROM re)
    SELECT re.channel, re.re_nano,
           floor(CAST(re.re_nano AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
               AS re_r6,
           CASE WHEN re.re_nano IS NOT NULL AND tot.tot_re > 0
                THEN floor(CAST(re.re_nano AS DOUBLE)
                           / CAST(tot.tot_re AS DOUBLE)
                           * CAST(nconv.n_conv AS DOUBLE) * 1e4 + 0.5)
                     / 1e4
           END AS attributed_r4
    FROM re CROSS JOIN tot CROSS JOIN nconv
    ORDER BY channel
    """


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

RFM_Q = 5  # quintile segmentation


def rfm_segments(t: dict[str, DataFrame]) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    customer-value grid marketing pipelines cut campaigns by: each
    customer scored 0-4 on how recently they ordered, how often, and
    how much, then the population summarized per (r,f,m) cell.

    Quantile semantics are EXACT equal-count buckets on the fully
    tie-broken ordering (metric, custkey): score = floor(Q·rank/n)
    with a 0-based exact global rank — not SQL ntile (whose
    first-buckets-get-the-remainder rule differs) and not
    approx_percentile. Recency orders ascending (0 = most recent
    fifth), frequency/monetary ascending too (4 = top fifth).
    Monetary is exact cents; recency is whole days behind the
    latest order date in the table (the reproducible anchor — not
    wall-clock now()).

    Scale shape: orders collapse to one row per ordering customer
    (groupBy custkey); each score is an exact distributed rank via
    ``distrank.with_global_order`` (no unpartitioned window);
    the final cell aggregate is ≤Q³ rows. Customers with no orders
    are out of scope (no RFM without an order). Output: one row per
    populated (r,f,m) cell.
    """
    from .distrank import with_global_order

    o = t["orders"]
    grouped = (
        o.select(
            "o_custkey",
            F.date_trunc("day", "o_orderdate").alias("od"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("od").alias("last_od"),
            F.count(F.lit(1)).cast("long").alias("freq"),
            F.sum("cents").cast("long").alias("monetary_c"),
        )
    )
    # the recency anchor is a ONE-ROW max broadcast (scalar-subquery
    # class) — an unpartitioned max(...) WINDOW here would funnel the
    # whole customer-sized relation through one task
    anchor = grouped.agg(F.max("last_od").alias("anchor"))
    per = (
        grouped.crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff("anchor", "last_od").cast("long").alias("rec_days"),
            "freq",
            "monetary_c",
        )
    )
    cur = per
    for metric, score in (
        ("rec_days", "r_q"),
        ("freq", "f_q"),
        ("monetary_c", "m_q"),
    ):
        ranked, n, _ = with_global_order(cur, [metric, "custkey"])
        cur = ranked.withColumn(
            score,
            F.floor(F.col("grank") * RFM_Q / F.lit(n)).cast("int"),
        ).drop("grank", "pid")
    return (
        cur.groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("monetary_c").cast("long").alias("cents"),
        )
        .select(
            "r_q",
            "f_q",
            "m_q",
            "n_customers",
            # floor-based cents rounding on BOTH sides (engine round()
            # half-rules differ on binary-double boundaries)
            (
                F.floor(
                    F.col("cents").cast("double")
                    / F.col("n_customers").cast("double")
                    + F.lit(0.5)
                )
                / 100.0
            ).alias("avg_monetary_r2"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )


def rfm_segments_sql() -> str:
    """Twin of rfm_segments: same floor(Q·rank/n) buckets from fully
    tie-broken row_number ranks."""
    return f"""
    WITH per AS (
        SELECT o_custkey AS custkey,
               CAST(datediff('day', max(date_trunc('day', o_orderdate)),
                    (SELECT max(date_trunc('day', o_orderdate))
                     FROM orders)) AS BIGINT) AS rec_days,
               CAST(count(*) AS BIGINT) AS freq,
               CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS monetary_c
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT custkey, monetary_c,
               CAST(floor(CAST((row_number() OVER
                   (ORDER BY rec_days, custkey) - 1) AS BIGINT)
                   * {RFM_Q} / count(*) OVER ()) AS INT) AS r_q,
               CAST(floor(CAST((row_number() OVER
                   (ORDER BY freq, custkey) - 1) AS BIGINT)
                   * {RFM_Q} / count(*) OVER ()) AS INT) AS f_q,
               CAST(floor(CAST((row_number() OVER
                   (ORDER BY monetary_c, custkey) - 1) AS BIGINT)
                   * {RFM_Q} / count(*) OVER ()) AS INT) AS m_q
        FROM per
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           floor(CAST(sum(monetary_c) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) + 0.5) / 100.0
               AS avg_monetary_r2
    FROM scored
    GROUP BY 1, 2, 3
    ORDER BY 1, 2, 3
    """


# ---------------------------------------------------------------------------
# per-nation conversion rate with Wilson confidence interval
# ---------------------------------------------------------------------------

WILSON_Z = 1.959963984540054  # exact two-sided 95% normal quantile


def wilson_conversion_ci(t: dict[str, DataFrame]) -> DataFrame:
    """Per-nation user conversion rate (users with ≥1 purchase over
    users with any activity) with the Wilson score 95% interval — the
    interval that stays inside [0,1] and behaves at small n / extreme
    p̂, which is why every experimentation platform reports it instead
    of the Wald ±z√(p̂q̂/n). The geo cut every growth dashboard starts
    from.

    Exactness: the numerator/denominator are exact distinct-user
    counts; p̂ and the Wilson bounds run through one shared IEEE
    double sequence with the z constant embedded as the same literal
    in both engines, rounded to 6.

    Scale shape: one per-user conversion flag aggregate (user-keyed
    shuffle), one broadcast join to the customer→nation dimension,
    one nation-keyed count. Output: one row per nation with activity.
    """
    e = t["events"]
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("conv")
    )
    dim = (
        t["customer"]
        .join(
            t["nation"], F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    per_nation = (
        per_user.join(F.broadcast(dim), "user_id")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )
    n = F.col("n_users").cast("double")
    p = F.col("n_conv").cast("double") / n
    z2 = F.lit(WILSON_Z * WILSON_Z)
    denom = 1.0 + z2 / n
    center = (p + z2 / (2.0 * n)) / denom
    half = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
        / denom
    )
    return per_nation.select(
        F.col("n_name").alias("nation"),
        "n_users",
        "n_conv",
        F.round(p, 6).alias("p_hat_r6"),
        F.round(center - half, 6).alias("wilson_lo_r6"),
        F.round(center + half, 6).alias("wilson_hi_r6"),
    ).orderBy("nation")


def wilson_conversion_ci_sql() -> str:
    """Twin of wilson_conversion_ci: identical double sequence."""
    z = repr(WILSON_Z)
    return f"""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    dim AS (
        SELECT c_custkey AS user_id, n_name
        FROM customer JOIN nation ON c_nationkey = n_nationkey
    ),
    per_nation AS (
        SELECT n_name,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM per_user JOIN dim USING (user_id)
        GROUP BY 1
    ),
    calc AS (
        SELECT n_name, n_users, n_conv,
               CAST(n_users AS DOUBLE) AS n,
               CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS p,
               {z} * {z} AS z2
        FROM per_nation
    )
    SELECT n_name AS nation, n_users, n_conv,
           round(p, 6) AS p_hat_r6,
           round((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
                 - {z} * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
                   / (1.0 + z2 / n), 6) AS wilson_lo_r6,
           round((p + z2 / (2.0 * n)) / (1.0 + z2 / n)
                 + {z} * sqrt(p * (1.0 - p) / n + z2 / (4.0 * n * n))
                   / (1.0 + z2 / n), 6) AS wilson_hi_r6
    FROM calc
    ORDER BY nation
    """


# ---------------------------------------------------------------------------
# A/B experiment power analysis / minimum detectable effect
# ---------------------------------------------------------------------------

# two-sided alpha = 0.05, power = 0.80 (the industry-default design
# point); quantiles as shared literals so both engines use identical
# doubles
AB_Z_ALPHA = 1.959964
AB_Z_POWER = 0.841621
AB_TARGET_REL_LIFT = 0.10  # sizing question: +10% relative conversion


def ab_power_mde(t: dict[str, DataFrame]) -> DataFrame:
    """Experiment DESIGN readout for the deterministic A/B split of
    ``ab_test_zscore``: with the traffic we actually have, what
    absolute/relative conversion lift is detectable at 80% power and
    α=0.05 — and how many users per arm would a +10% relative lift
    need? This is the question asked BEFORE shipping an experiment;
    the z-test answers after.

    MDE = (z_{α/2}+z_{pow})·√(p̄(1−p̄)(1/n_a+1/n_b)) with p̄ the pooled
    conversion; the sizing uses the two-arm unpooled-variance formula
    n = (z_{α/2}+z_{pow})²·(p₁q₁+p₂q₂)/(p₂−p₁)² with p₂ = p₁·1.1,
    rounded UP (ceil — a sample size is a guarantee, not an estimate).

    Exactness: user/conversion counts are exact integers from one
    groupBy; every later step is one shared double sequence over the
    2-row variant relation. Output: one row.

    Scale shape: identical to ab_test_zscore — per-user flag groupBy,
    2-row variant aggregate, metadata window. No data-sized shuffle
    beyond the user collapse.
    """
    from .sketches import _hll_mix_spark

    ev = t["events"]
    per_user = ev.groupBy(F.col("user_id").cast("long").alias("uid")).agg(
        F.max((F.col("event_type") == "purchase").cast("long")).alias("conv")
    )
    variant = F.when(
        _hll_mix_spark(F.col("uid"), AB_SEED) % 2 == 0, "A"
    ).otherwise("B")
    per_var = (
        per_user.select(variant.alias("variant"), "conv")
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_conv"),
        )
    )
    agg = per_var.groupBy().agg(
        F.sum("n_users").cast("long").alias("n_tot"),
        F.sum("n_conv").cast("long").alias("c_tot"),
        F.min(
            F.when(F.col("variant") == "A", F.col("n_users"))
        ).cast("long").alias("n_a"),
        F.min(
            F.when(F.col("variant") == "B", F.col("n_users"))
        ).cast("long").alias("n_b"),
    )
    z_sum = F.lit(AB_Z_ALPHA + AB_Z_POWER)
    p_bar = F.col("c_tot").cast("double") / F.col("n_tot").cast("double")
    mde = z_sum * F.sqrt(
        p_bar
        * (1.0 - p_bar)
        * (
            1.0 / F.col("n_a").cast("double")
            + 1.0 / F.col("n_b").cast("double")
        )
    )
    p1 = p_bar
    p2 = p_bar * (1.0 + AB_TARGET_REL_LIFT)
    n_req = F.ceil(
        z_sum
        * z_sum
        * (p1 * (1.0 - p1) + p2 * (1.0 - p2))
        / ((p2 - p1) * (p2 - p1))
    ).cast("long")
    return agg.select(
        "n_a",
        "n_b",
        F.col("c_tot").alias("n_conv_total"),
        F.expr("(c_tot * 10000L) div n_tot").cast("long").alias("p_pool_bp"),
        F.round(mde, 6).alias("mde_abs_r6"),
        F.when(F.col("c_tot") > 0, F.round(mde / p_bar, 6)).alias(
            "mde_rel_r6"
        ),
        F.when(F.col("c_tot") > 0, n_req).alias("n_per_arm_10pct"),
        (
            (F.col("c_tot") > 0)
            & (F.least(F.col("n_a"), F.col("n_b")) >= n_req)
        )
        .cast("int")
        .alias("powered_for_10pct"),
    )


def ab_power_mde_sql() -> str:
    """Twin of ab_power_mde: identical z literals and double
    sequence."""
    from .sketches import _hll_mix_sql

    mix = _hll_mix_sql("uid", AB_SEED)
    return f"""
    WITH per_user AS (
        SELECT user_id AS uid,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    per_var AS (
        SELECT CASE WHEN {mix} % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_conv
        FROM per_user GROUP BY 1
    ),
    agg AS (
        SELECT CAST(sum(n_users) AS BIGINT) AS n_tot,
               CAST(sum(n_conv) AS BIGINT) AS c_tot,
               CAST(min(CASE WHEN variant = 'A' THEN n_users END)
                    AS BIGINT) AS n_a,
               CAST(min(CASE WHEN variant = 'B' THEN n_users END)
                    AS BIGINT) AS n_b
        FROM per_var
    ),
    m AS (
        SELECT n_a, n_b, c_tot, n_tot,
               CAST(c_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS p_bar,
               {AB_Z_ALPHA!r} + {AB_Z_POWER!r} AS z_sum
        FROM agg
    ),
    d AS (
        SELECT *,
               z_sum * sqrt(p_bar * (1.0 - p_bar)
                            * (1.0 / CAST(n_a AS DOUBLE)
                               + 1.0 / CAST(n_b AS DOUBLE))) AS mde,
               CAST(ceil(z_sum * z_sum
                    * (p_bar * (1.0 - p_bar)
                       + (p_bar * (1.0 + {AB_TARGET_REL_LIFT!r}))
                         * (1.0 - p_bar * (1.0 + {AB_TARGET_REL_LIFT!r})))
                    / ((p_bar * (1.0 + {AB_TARGET_REL_LIFT!r}) - p_bar)
                       * (p_bar * (1.0 + {AB_TARGET_REL_LIFT!r}) - p_bar)))
                    AS BIGINT) AS n_req
        FROM m
    )
    SELECT n_a, n_b, c_tot AS n_conv_total,
           CAST((c_tot * 10000) // n_tot AS BIGINT) AS p_pool_bp,
           round(mde, 6) AS mde_abs_r6,
           CASE WHEN c_tot > 0 THEN round(mde / p_bar, 6) END AS mde_rel_r6,
           CASE WHEN c_tot > 0 THEN n_req END AS n_per_arm_10pct,
           CAST(c_tot > 0 AND least(n_a, n_b) >= n_req AS INT)
               AS powered_for_10pct
    FROM d
    """


# ---------------------------------------------------------------------------
# position-based (U-shaped) multi-touch attribution
# ---------------------------------------------------------------------------

# the standard 40/20/40 split: first and last touch get 40% each, the
# middle touches share the remaining 20%
POS_END_NANO = 400_000_000
POS_MID_POOL_NANO = 200_000_000


def position_attribution(events: DataFrame) -> DataFrame:
    """POSITION-BASED (U-shaped) multi-touch attribution: each
    purchase gives 40% of one credit unit to the user's FIRST click in
    the preceding hour, 40% to the LAST, and splits the remaining 20%
    equally across the middle clicks — the model between
    ``linear_attribution`` (all touches equal) and
    ``markov_attribution`` (data-driven): it encodes the
    introduce-then-close journey shape marketers assume. One click →
    100%; two clicks → 50/50.

    Determinism/exactness: click order within a purchase window is
    (timestamp, event_id) — total order even under timestamp
    collisions; per-pair credit is integer nano-units (the middle
    share divides the 0.2 pool once, floor+0.5); hourly sums are
    integer.

    Physical shape: identical banded interval join as
    ``linear_attribution`` (equi-join on (user, hour bucket), exact
    re-filter, fan-out ≤ 2 buckets/purchase); position and count come
    from one purchase-keyed window over the matched pairs (windows
    sized by per-purchase click counts, ≤ window-hour fan-out — never
    corpus-sized). Output: (click_hour, n_credit_events, credit).
    """
    from pyspark.sql import Window

    from .temporal import banded_range_join

    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id",
        F.unix_micros("ts").alias("c_us"),
        F.col("event_id").alias("c_id"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        (F.unix_micros("ts") - F.lit(ATTRIB_WINDOW_US)).alias("lo_us"),
        (F.unix_micros("ts") - F.lit(1)).alias("hi_us"),
    )
    pairs = banded_range_join(
        clicks,
        purchases,
        on="user_id",
        point_ts="c_us",
        interval_lo="lo_us",
        interval_hi="hi_us",
        max_span=ATTRIB_WINDOW_US,
    )
    wp = Window.partitionBy("p_id")
    wo = Window.partitionBy("p_id").orderBy("c_us", "c_id")
    k = F.count(F.lit(1)).over(wp)
    rn = F.row_number().over(wo)
    credit = (
        F.when(k == 1, F.lit(1_000_000_000))
        .when(k == 2, F.lit(500_000_000))
        .when((rn == 1) | (rn == k), F.lit(POS_END_NANO))
        .otherwise(
            F.floor(
                F.lit(float(POS_MID_POOL_NANO)) / (k - 2).cast("double")
                + F.lit(0.5)
            )
        )
        .cast("long")
    )
    credited = pairs.select("c_us", credit.alias("credit_nano"))
    hour = F.date_format(
        F.timestamp_micros(F.col("c_us") - F.col("c_us") % 3_600_000_000),
        "yyyy-MM-dd HH:00",
    )
    return credited.groupBy(hour.alias("click_hour")).agg(
        F.count(F.lit(1)).cast("long").alias("n_credit_events"),
        F.round(F.sum("credit_nano") / 1e9, 6).alias("credit"),
    )


POSITION_ATTRIBUTION_SQL = f"""
    WITH clicks AS (
        SELECT user_id, epoch_us(ts) AS c_us, event_id AS c_id FROM events
        WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, event_id AS p_id,
               epoch_us(ts) - {ATTRIB_WINDOW_US} AS lo_us,
               epoch_us(ts) - 1 AS hi_us
        FROM events WHERE event_type = 'purchase'
    ),
    pairs AS (
        SELECT c.c_us, c.c_id, p.p_id
        FROM clicks c JOIN purchases p
          ON c.user_id = p.user_id
         AND c.c_us >= p.lo_us AND c.c_us <= p.hi_us
    ),
    positioned AS (
        SELECT c_us,
               count(*) OVER (PARTITION BY p_id) AS k,
               row_number() OVER (PARTITION BY p_id
                                  ORDER BY c_us, c_id) AS rn
        FROM pairs
    ),
    credited AS (
        SELECT c_us,
               CAST(CASE WHEN k = 1 THEN 1000000000
                         WHEN k = 2 THEN 500000000
                         WHEN rn = 1 OR rn = k THEN {POS_END_NANO}
                         ELSE floor({POS_MID_POOL_NANO}.0
                                    / CAST(k - 2 AS DOUBLE) + 0.5)
                    END AS BIGINT) AS credit_nano
        FROM positioned
    )
    SELECT strftime(make_timestamp((c_us - c_us % 3600000000)),
                    '%Y-%m-%d %H:00') AS click_hour,
           CAST(count(*) AS BIGINT) AS n_credit_events,
           round(CAST(sum(credit_nano) AS BIGINT) / 1e9, 6) AS credit
    FROM credited
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# conditional transition entropy (behavior predictability)
# ---------------------------------------------------------------------------


def transition_entropy(events: DataFrame) -> DataFrame:
    """Per-state entropy of the next-event distribution plus the
    corpus-level conditional entropy H(next | current) — the
    PREDICTABILITY number on top of ``event_transitions``' raw matrix:
    H(next|current) near 0 means journeys are deterministic (a bot
    farm, a broken redirect loop); near log₂|types| means the next
    step is a coin flip. Also reports each state's normalized entropy
    (share of its maximum possible) so skewed rows stand out.

    Exactness: transition counts are exact integers from one
    user-keyed window pass; each cell's −(n/N_x)·log₂(n/N_x) term is
    nano-rounded BEFORE the per-state integer sum (order-invariant),
    and H(next|current) = Σ_x (N_x/N)·H_x reuses those integer sums
    (one weighted fold over the ≤|types| state rows). Output rows:
    one per from_type + one corpus '__overall__' row with the
    conditional entropy.

    Scale shape: one user-keyed window (same partitioning as
    sessionize/funnels) + a ≤|types|²-cell aggregate; everything after
    runs on that metadata via an empty-frame window.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = events.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    cells = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_row = Window.partitionBy("from_type")
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    p = F.col("n").cast("double") / F.col("nx").cast("double")
    per_cell = cells.select(
        "from_type",
        "n",
        F.sum("n").over(w_row).cast("long").alias("nx"),
    ).select(
        "from_type",
        "nx",
        nano(-p * F.log2(p)).alias("h_nano"),
        F.lit(1).cast("long").alias("one"),
    )
    per_state = per_cell.groupBy("from_type").agg(
        F.max("nx").cast("long").alias("n_out"),
        F.sum("one").cast("long").alias("n_dest"),
        F.sum("h_nano").cast("long").alias("h_nano"),
    )
    w_all = Window.partitionBy()
    dec = lambda c: c.cast("decimal(38,0)")
    enriched = per_state.select(
        "from_type",
        "n_out",
        "n_dest",
        "h_nano",
        F.sum("n_out").over(w_all).cast("long").alias("n_tot"),
        # Σ N_x · H_x in nano units — exact decimal product
        F.sum(dec(F.col("n_out")) * dec(F.col("h_nano")))
        .over(w_all)
        .alias("wh"),
    )
    h_bits = F.col("h_nano").cast("double") / 1e9
    h_max = F.log2(F.col("n_dest").cast("double"))
    state_rows = enriched.select(
        "from_type",
        "n_out",
        "n_dest",
        F.round(h_bits, 6).alias("entropy_bits_r6"),
        F.when(
            F.col("n_dest") > 1, F.round(h_bits / h_max, 6)
        ).otherwise(F.lit(0.0)).alias("entropy_norm_r6"),
    )
    overall = (
        enriched.limit(1)
        .select(
            F.lit("__overall__").alias("from_type"),
            F.col("n_tot").alias("n_out"),
            F.lit(None).cast("long").alias("n_dest"),
            F.round(
                F.col("wh").cast("double")
                / 1e9
                / F.col("n_tot").cast("double"),
                6,
            ).alias("entropy_bits_r6"),
            F.lit(None).cast("double").alias("entropy_norm_r6"),
        )
    )
    return state_rows.unionByName(overall).orderBy("from_type")


TRANSITION_ENTROPY_SQL = """
    WITH nxt AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS to_type
        FROM events
    ),
    cells AS (
        SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
        FROM nxt WHERE to_type IS NOT NULL
        GROUP BY 1, 2
    ),
    per_cell AS (
        SELECT from_type,
               CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS nx,
               CAST(floor(-(CAST(n AS DOUBLE)
                            / CAST(sum(n) OVER (PARTITION BY from_type)
                                   AS DOUBLE))
                          * log2(CAST(n AS DOUBLE)
                                 / CAST(sum(n) OVER (PARTITION BY from_type)
                                        AS DOUBLE))
                          * 1e9 + 0.5) AS BIGINT) AS h_nano
        FROM cells
    ),
    per_state AS (
        SELECT from_type,
               CAST(max(nx) AS BIGINT) AS n_out,
               CAST(count(*) AS BIGINT) AS n_dest,
               CAST(sum(h_nano) AS BIGINT) AS h_nano
        FROM per_cell GROUP BY 1
    ),
    enriched AS (
        SELECT *,
               CAST(sum(n_out) OVER () AS BIGINT) AS n_tot,
               sum(CAST(n_out AS HUGEINT) * CAST(h_nano AS HUGEINT))
                   OVER () AS wh
        FROM per_state
    )
    SELECT from_type, n_out, n_dest,
           round(CAST(h_nano AS DOUBLE) / 1e9, 6) AS entropy_bits_r6,
           CASE WHEN n_dest > 1
                THEN round((CAST(h_nano AS DOUBLE) / 1e9)
                           / log2(CAST(n_dest AS DOUBLE)), 6)
                ELSE 0.0 END AS entropy_norm_r6
    FROM enriched
    UNION ALL
    SELECT '__overall__', max(n_tot), NULL,
           round(CAST(max(wh) AS DOUBLE) / 1e9
                 / CAST(max(n_tot) AS DOUBLE), 6),
           NULL
    FROM enriched
    ORDER BY from_type
"""


# ---------------------------------------------------------------------------
# conversion dose-response by click exposure
# ---------------------------------------------------------------------------

DOSE_BUCKETS = (0, 1, 2, 4, 8, 16)  # left edges; last is 16+


def conversion_dose_response(t: dict[str, DataFrame]) -> DataFrame:
    """Conversion rate as a function of click EXPOSURE — the
    dose-response curve growth teams read before crediting clicks at
    all (a flat curve under rising exposure means clicks don't drive
    purchase; attribution models upstream of this check assume their
    conclusion). Users bucket by lifetime click count into fixed
    geometric bins; each bin reports exact converter counts and the
    Wilson 95% interval (shared WILSON_Z literal), so adjacent-bin
    differences come with honest uncertainty.

    Exactness: per-user click counts and the converted flag are exact
    integers from one groupBy; bucket edges are fixed literals;
    rate_bp is integer floor-division; only the Wilson bounds divide
    doubles (one shared sequence).

    Scale shape: one user-keyed aggregate (map-side partials), one
    ≤|buckets|-row aggregate. Output: one row per non-empty bucket.
    """
    ev = t["events"]
    per = ev.groupBy(F.col("user_id").cast("long").alias("uid")).agg(
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("clicks"),
        F.max((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("conv"),
    )
    edges = sorted(DOSE_BUCKETS)
    bucket = F.lit(edges[0])
    for e in edges[1:]:
        bucket = F.when(F.col("clicks") >= e, F.lit(e)).otherwise(bucket)
    agg = (
        per.select(bucket.alias("min_clicks"), "conv")
        .groupBy("min_clicks")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("conv").cast("long").alias("n_converted"),
        )
    )
    nn = F.col("n_users").cast("double")
    p = F.col("n_converted").cast("double") / nn
    z2 = F.lit(WILSON_Z * WILSON_Z)
    center = (p + z2 / (2.0 * nn)) / (1.0 + z2 / nn)
    half = (
        F.lit(WILSON_Z)
        * F.sqrt(p * (1.0 - p) / nn + z2 / (4.0 * nn * nn))
        / (1.0 + z2 / nn)
    )
    return agg.select(
        F.col("min_clicks").cast("long").alias("min_clicks"),
        "n_users",
        "n_converted",
        F.expr("(n_converted * 10000L) div n_users")
        .cast("long")
        .alias("conv_bp"),
        F.round(center - half, 6).alias("wilson_lo_r6"),
        F.round(center + half, 6).alias("wilson_hi_r6"),
    ).orderBy("min_clicks")


def conversion_dose_response_sql() -> str:
    """Twin of conversion_dose_response: identical bucket fold and
    Wilson sequence."""
    edges = sorted(DOSE_BUCKETS)
    arms = " ".join(
        f"WHEN clicks >= {e} THEN {e}" for e in reversed(edges[1:])
    )
    z = WILSON_Z
    return f"""
    WITH per AS (
        SELECT user_id AS uid,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS clicks,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY 1
    ),
    agg AS (
        SELECT CASE {arms} ELSE {edges[0]} END AS min_clicks,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(conv) AS BIGINT) AS n_converted
        FROM per GROUP BY 1
    )
    SELECT CAST(min_clicks AS BIGINT) AS min_clicks, n_users, n_converted,
           CAST((n_converted * 10000) // n_users AS BIGINT) AS conv_bp,
           round(((CAST(n_converted AS DOUBLE) / n_users
                   + {z!r} * {z!r} / (2.0 * n_users))
                  / (1.0 + {z!r} * {z!r} / n_users))
                 - ({z!r} * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                                 * (1.0 - CAST(n_converted AS DOUBLE)
                                          / n_users) / n_users
                                 + {z!r} * {z!r}
                                   / (4.0 * CAST(n_users AS DOUBLE)
                                      * n_users))
                    / (1.0 + {z!r} * {z!r} / n_users)), 6) AS wilson_lo_r6,
           round(((CAST(n_converted AS DOUBLE) / n_users
                   + {z!r} * {z!r} / (2.0 * n_users))
                  / (1.0 + {z!r} * {z!r} / n_users))
                 + ({z!r} * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                                 * (1.0 - CAST(n_converted AS DOUBLE)
                                          / n_users) / n_users
                                 + {z!r} * {z!r}
                                   / (4.0 * CAST(n_users AS DOUBLE)
                                      * n_users))
                    / (1.0 + {z!r} * {z!r} / n_users)), 6) AS wilson_hi_r6
    FROM agg
    ORDER BY min_clicks
    """


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (KM's robust sibling)
# ---------------------------------------------------------------------------


def nelson_aalen_churn(
    events: DataFrame, churn_days: int = KM_CHURN_DAYS
) -> DataFrame:
    """Nelson-Aalen cumulative hazard of user lifetime under the same
    right-censoring rule as ``kaplan_meier_churn``: H(t) = Σ_{t'≤t}
    d_{t'}/n_{t'} with variance Σ d/n² — the estimator of choice when
    the HAZARD (instantaneous churn pressure) is the decision input
    (where in the lifecycle do we lose people fastest?), plus the
    Fleming-Harrington survival exp(−H) that dominates KM at small
    risk sets. Sharing the duration relation with KM
    (``_churn_risk_set``) makes the two
    curves directly comparable row for row.

    Exactness: per-duration d/n and d/n² terms are nano-rounded to
    integers BEFORE the cumulative sums (order-invariant,
    engine-identical); exp/sqrt run once per output row.

    Relational shape: identical to KM — one per-user aggregate, a
    ONE-ROW observation-edge broadcast (allowlisted class), a
    ≤horizon-days duration relation, ordered windows over that
    metadata. Output: one row per churn duration.
    """
    from pyspark.sql import Window

    risked = _churn_risk_set(events, churn_days)
    w_ord = Window.orderBy("duration_days")
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    d = F.col("n_events").cast("double")
    nn = F.col("n_risk").cast("double")
    terms = risked.select(
        "duration_days",
        "n_risk",
        "n_events",
        nano(d / nn).alias("h_nano"),
        nano(d / (nn * nn)).alias("v_nano"),
    )
    cum = lambda c: (
        F.sum(c)
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long")
    )
    return (
        terms.withColumn("ch_nano", cum("h_nano"))
        .withColumn("cv_nano", cum("v_nano"))
        .filter(F.col("n_events") > 0)
        .select(
            "duration_days",
            "n_risk",
            "n_events",
            F.round(F.col("ch_nano").cast("double") / 1e9, 6).alias(
                "cum_hazard_r6"
            ),
            F.round(
                F.sqrt(F.col("cv_nano").cast("double") / 1e9), 6
            ).alias("se_r6"),
            F.round(
                F.exp(-F.col("ch_nano").cast("double") / 1e9), 6
            ).alias("surv_fh_r6"),
        )
        .orderBy("duration_days")
    )


def nelson_aalen_churn_sql(churn_days: int = KM_CHURN_DAYS) -> str:
    """Twin of nelson_aalen_churn: identical duration relation and
    nano hazard lattice."""
    return f"""
    WITH {_churn_risk_set_cte(churn_days)},
    terms AS (
        SELECT duration_days, n_risk, n_events,
               CAST(floor(CAST(n_events AS DOUBLE) / n_risk * 1e9 + 0.5)
                    AS BIGINT) AS h_nano,
               CAST(floor(CAST(n_events AS DOUBLE)
                          / (CAST(n_risk AS DOUBLE) * n_risk)
                          * 1e9 + 0.5) AS BIGINT) AS v_nano
        FROM risked
    ),
    cum AS (
        SELECT duration_days, n_risk, n_events,
               CAST(sum(h_nano) OVER (ORDER BY duration_days)
                    AS BIGINT) AS ch_nano,
               CAST(sum(v_nano) OVER (ORDER BY duration_days)
                    AS BIGINT) AS cv_nano
        FROM terms
    )
    SELECT duration_days, n_risk, n_events,
           round(CAST(ch_nano AS DOUBLE) / 1e9, 6) AS cum_hazard_r6,
           round(sqrt(CAST(cv_nano AS DOUBLE) / 1e9), 6) AS se_r6,
           round(exp(-CAST(ch_nano AS DOUBLE) / 1e9), 6) AS surv_fh_r6
    FROM cum
    WHERE n_events > 0
    ORDER BY duration_days
    """


# ---------------------------------------------------------------------------
# IPW causal uplift: confounder-adjusted click -> purchase effect
# ---------------------------------------------------------------------------

IPW_X_SCALE = 10.0  # n_events / 10 keeps the propensity Hessian conditioned
IPW_CLIP = 0.01  # positivity clipping: e(x) in [0.01, 0.99]


def ipw_click_uplift(t: dict[str, DataFrame]) -> DataFrame:
    """Confounder-adjusted click→purchase uplift via inverse-propensity
    weighting — the OBSERVATIONAL causal estimator beside the ab_* A/B
    family: when exposure was not randomized, the naive uplift
    E[Y|clicked] − E[Y|not] confounds treatment with activity (heavy
    users click more AND buy more). IPW reweights each user by
    1/P(treatment|activity) so the two arms match on the confounder,
    with the propensity fit INSIDE the engine by
    ``validation._logistic_newton_beta``, the unrolled Newton solver
    ``logistic_irls_lang`` also uses (treatment ~ total-event activity,
    ``IRLS_STEPS`` steps from β=0), and Hájek normalization on the
    weighted means.

    Exactness: per-user (T, Y, x) from one groupBy; every
    gradient/Hessian/weight term nano-rounded before any sum
    (order-invariant decimal accumulators); propensities clipped to
    [IPW_CLIP, 1−IPW_CLIP] (standard positivity guard) through one
    shared double sequence.

    Unit of analysis: USER-DAY (panel grain) — at lifetime grain every
    fixture user eventually clicks AND buys, so treatment would be
    degenerate; day cells have real variation (~40% treated) and the
    day's activity is the natural confounder.

    Scale shape: one (user, day)-keyed aggregate, then per step a
    narrow map ⋈ ONE-ROW broadcast β + a 5-integer aggregate; final
    one-row fold. Output: one row (naive vs IPW uplift + the fit).
    """
    from .validation import _logistic_newton_beta

    ev = t["events"]
    rows = ev.groupBy(
        F.col("user_id").alias("uid"), F.to_date("ts").alias("day")
    ).agg(
        F.max((F.col("event_type") == "click").cast("long"))
        .cast("long")
        .alias("tr"),
        F.max((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("y"),
        (F.count(F.lit(1)).cast("double") / F.lit(IPW_X_SCALE)).alias("x"),
    )
    dec = lambda c: c.cast("decimal(38,0)")
    nano = lambda e: F.floor(e * 1e9 + F.lit(0.5)).cast("long")
    beta = _logistic_newton_beta(rows, "tr")
    scored = rows.crossJoin(F.broadcast(beta))
    e_raw = F.lit(1.0) / (
        F.lit(1.0) + F.exp(-(F.col("b0") + F.col("b1") * F.col("x")))
    )
    e = F.least(
        F.greatest(e_raw, F.lit(IPW_CLIP)), F.lit(1.0 - IPW_CLIP)
    )
    tcol = F.col("tr").cast("double")
    ycol = F.col("y").cast("double")
    fin = scored.select(
        "tr",
        "y",
        F.col("b0"),
        F.col("b1"),
        nano(tcol * ycol / e).alias("w1y"),
        nano(tcol / e).alias("w1"),
        nano((F.lit(1.0) - tcol) * ycol / (F.lit(1.0) - e)).alias("w0y"),
        nano((F.lit(1.0) - tcol) / (F.lit(1.0) - e)).alias("w0"),
    ).groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("tr").cast("long").alias("n_treat"),
        F.sum(F.col("tr") * F.col("y")).cast("long").alias("t1y"),
        F.sum((1 - F.col("tr")) * F.col("y")).cast("long").alias("t0y"),
        F.min("b0").alias("b0"),
        F.min("b1").alias("b1"),
        F.sum(dec(F.col("w1y"))).alias("sw1y"),
        F.sum(dec(F.col("w1"))).alias("sw1"),
        F.sum(dec(F.col("w0y"))).alias("sw0y"),
        F.sum(dec(F.col("w0"))).alias("sw0"),
    )
    d = lambda c: F.col(c).cast("double")
    naive = d("t1y") / d("n_treat") - d("t0y") / (
        d("n_units") - d("n_treat")
    )
    ipw = F.col("sw1y").cast("double") / F.col("sw1").cast("double") - F.col(
        "sw0y"
    ).cast("double") / F.col("sw0").cast("double")
    return fin.select(
        "n_units",
        "n_treat",
        (F.col("n_units") - F.col("n_treat")).cast("long").alias("n_ctrl"),
        F.round(naive, 6).alias("naive_uplift_r6"),
        F.round(ipw, 6).alias("ipw_uplift_r6"),
        F.round(F.col("b0"), 6).alias("propensity_b0_r6"),
        F.round(F.col("b1"), 6).alias("propensity_b1_r6"),
    )


def ipw_click_uplift_sql() -> str:
    """Twin of ipw_click_uplift: per-user CTE + the shared unrolled
    Newton steps (``validation._logistic_newton_sql``) + clipped Hájek
    fold."""
    from .validation import IRLS_STEPS, _logistic_newton_sql

    clip_lo, clip_hi = IPW_CLIP, 1.0 - IPW_CLIP
    e = (
        f"least(greatest(1.0/(1.0 + exp(-(b.b0 + b.b1 * x))), {clip_lo!r}), "
        f"{clip_hi!r})"
    )
    return f"""
    WITH rows AS (
        SELECT CAST(max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS tr,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y,
               CAST(count(*) AS DOUBLE) / {IPW_X_SCALE!r} AS x
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    {_logistic_newton_sql("tr")},
    scored AS (
        SELECT tr, y, b.b0 AS b0, b.b1 AS b1,
               CAST(floor(tr * y / {e} * 1e9 + 0.5) AS BIGINT) AS w1y,
               CAST(floor(tr / {e} * 1e9 + 0.5) AS BIGINT) AS w1,
               CAST(floor((1.0 - tr) * y / (1.0 - {e}) * 1e9 + 0.5)
                    AS BIGINT) AS w0y,
               CAST(floor((1.0 - tr) / (1.0 - {e}) * 1e9 + 0.5)
                    AS BIGINT) AS w0
        FROM rows, beta{IRLS_STEPS} b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_units,
           CAST(sum(tr) AS BIGINT) AS n_treat,
           CAST(count(*) - sum(tr) AS BIGINT) AS n_ctrl,
           round(CAST(sum(tr * y) AS DOUBLE) / CAST(sum(tr) AS DOUBLE)
                 - CAST(sum((1 - tr) * y) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) - CAST(sum(tr) AS DOUBLE)),
                 6) AS naive_uplift_r6,
           round(CAST(sum(CAST(w1y AS HUGEINT)) AS DOUBLE)
                 / CAST(sum(CAST(w1 AS HUGEINT)) AS DOUBLE)
                 - CAST(sum(CAST(w0y AS HUGEINT)) AS DOUBLE)
                   / CAST(sum(CAST(w0 AS HUGEINT)) AS DOUBLE), 6)
               AS ipw_uplift_r6,
           round(min(b0), 6) AS propensity_b0_r6,
           round(min(b1), 6) AS propensity_b1_r6
    FROM scored
    """


# ---------------------------------------------------------------------------
# Shapley channel attribution (coalition-value formulation)
# ---------------------------------------------------------------------------

SHAPLEY_CHANNELS = ["click", "view", "signup", "error"]


def shapley_attribution(t: dict[str, DataFrame]) -> DataFrame:
    """Data-driven Shapley channel attribution (Zhao et al. 2018) —
    the axiomatic completion of the attribution family: linear splits
    equally, U-shaped by position, Markov by removal effect; Shapley is
    the unique credit split satisfying efficiency/symmetry/null-player
    over the coalition-value function v(S) = empirical conversion rate
    of users whose touched-channel set is exactly S.

    φ_i = Σ_{S ∌ i} |S|!·(k−1−|S|)!/k! · (v(S∪{i}) − v(S)), k=4
    channels → 16 coalitions, 32 marginal terms; weights enter as
    exact integer multiples of 1/24 and every term is nano-rounded
    before the per-channel integer sum (order-invariant), so both
    engines fold the identical lattice. Unobserved coalitions take
    v = 0 (stated convention — the empirical v is undefined on them;
    n_coalitions_observed reports how much of the lattice has mass).

    Scale shape: ONE user-keyed aggregate to a 4-bit mask + one
    ≤16-row coalition aggregate; Shapley itself is a 32-literal-row
    join over metadata. Output: one row per channel.
    """
    ev = t["events"]
    k = len(SHAPLEY_CHANNELS)
    mask = None
    for i, ch in enumerate(SHAPLEY_CHANNELS):
        bit = F.max((F.col("event_type") == ch).cast("long")) * (1 << i)
        mask = bit if mask is None else mask + bit
    per = ev.groupBy(F.col("user_id").alias("uid")).agg(
        mask.cast("long").alias("s"),
        F.max((F.col("event_type") == "purchase").cast("long"))
        .cast("long")
        .alias("conv"),
    )
    coal = per.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("c"),
    )
    spark = ev.sparkSession
    import math

    terms = []
    for i in range(k):
        for s in range(1 << k):
            if s & (1 << i):
                continue
            m = (
                math.factorial(bin(s).count("1"))
                * math.factorial(k - 1 - bin(s).count("1"))
            )
            terms.append((SHAPLEY_CHANNELS[i], s, s | (1 << i), m))
    lattice = F.broadcast(
        spark.createDataFrame(
            terms, "channel string, s0 long, s1 long, m long"
        )
    )
    v = lambda n, c: F.when(
        F.col(n).isNotNull() & (F.col(n) > 0),
        F.col(c).cast("double") / F.col(n).cast("double"),
    ).otherwise(F.lit(0.0))
    joined = (
        lattice.join(
            coal.select(
                F.col("s").alias("s0"),
                F.col("n").alias("n0"),
                F.col("c").alias("c0"),
            ),
            "s0",
            "left",
        )
        .join(
            coal.select(
                F.col("s").alias("s1"),
                F.col("n").alias("n1"),
                F.col("c").alias("c1"),
            ),
            "s1",
            "left",
        )
        .select(
            "channel",
            F.floor(
                F.col("m").cast("double")
                * (v("n1", "c1") - v("n0", "c0"))
                * 1e9
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t_nano"),
        )
    )
    denom = float(math.factorial(k))
    nobs = coal.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_coalitions_observed")
    )
    return (
        joined.groupBy("channel")
        .agg(F.sum(F.col("t_nano").cast("decimal(38,0)")).alias("st"))
        .crossJoin(F.broadcast(nobs))
        .select(
            "channel",
            F.round(
                F.col("st").cast("double") / 1e9 / F.lit(denom), 6
            ).alias("shapley_r6"),
            "n_coalitions_observed",
        )
    )


def shapley_attribution_sql() -> str:
    """Twin of shapley_attribution: literal lattice VALUES + the same
    nano-term fold."""
    import math

    k = len(SHAPLEY_CHANNELS)
    rows = []
    for i in range(k):
        for s in range(1 << k):
            if s & (1 << i):
                continue
            m = (
                math.factorial(bin(s).count("1"))
                * math.factorial(k - 1 - bin(s).count("1"))
            )
            rows.append(
                f"('{SHAPLEY_CHANNELS[i]}', {s}, {s | (1 << i)}, {m})"
            )
    lattice = ",\n        ".join(rows)
    bits = " + ".join(
        f"max(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END) * {1 << i}"
        for i, ch in enumerate(SHAPLEY_CHANNELS)
    )
    v0 = (
        "CASE WHEN n0 IS NOT NULL AND n0 > 0 "
        "THEN CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE) ELSE 0.0 END"
    )
    v1 = (
        "CASE WHEN n1 IS NOT NULL AND n1 > 0 "
        "THEN CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) ELSE 0.0 END"
    )
    return f"""
    WITH per AS (
        SELECT CAST({bits} AS BIGINT) AS s,
               CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS conv
        FROM events GROUP BY user_id
    ),
    coal AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(conv) AS BIGINT) AS c
        FROM per GROUP BY s
    ),
    lattice(channel, s0, s1, m) AS (
        SELECT * FROM (VALUES
        {lattice}) t(channel, s0, s1, m)
    ),
    terms AS (
        SELECT l.channel,
               CAST(floor(CAST(l.m AS DOUBLE) * (({v1}) - ({v0}))
                          * 1e9 + 0.5) AS BIGINT) AS t_nano
        FROM lattice l
        LEFT JOIN (SELECT s AS s0, n AS n0, c AS c0 FROM coal) a
               ON a.s0 = l.s0
        LEFT JOIN (SELECT s AS s1, n AS n1, c AS c1 FROM coal) b
               ON b.s1 = l.s1
    )
    SELECT channel,
           round(CAST(sum(CAST(t_nano AS HUGEINT)) AS DOUBLE) / 1e9
                 / {float(math.factorial(k))!r}, 6) AS shapley_r6,
           (SELECT CAST(count(*) AS BIGINT) FROM coal)
               AS n_coalitions_observed
    FROM terms
    GROUP BY channel
    """


# ---------------------------------------------------------------------------
# sessionization gap-threshold curve (round 8)
# ---------------------------------------------------------------------------

SESSION_GAP_MINUTES = (5, 30, 120)


def session_gap_curve(
    t: dict[str, DataFrame], gaps: tuple[int, ...] = SESSION_GAP_MINUTES
) -> DataFrame:
    """Sensitivity of sessionization to the inactivity-gap threshold —
    the tuning curve for ``sessionize_events``'s one parameter: per
    candidate gap, the session count, singleton-session count, and the
    total intra-session idle seconds the threshold admits.

    The trick that makes the curve ONE window pass instead of |gaps|
    sessionizations: every arm needs only the per-event gap to the
    previous event (lag) and to the next event (lead) under the SAME
    (user_id, ts) ordering — a session starts exactly where the
    preceding gap exceeds the threshold (or at the user's first
    event), a session is a singleton when both neighboring gaps exceed
    it, and the admitted idle time is the sum of gaps <= threshold. So
    counts fold as plain conditional aggregates over one lag/lead
    projection: no per-session groupBy, no per-arm shuffle; Catalyst
    computes all arms from one exchange + sort.

    Scale shape: one shuffle on user_id (the two window functions share
    partitioning and ordering), then a 1-row aggregate per arm unioned
    to |gaps| rows. Output: (gap_minutes, n_sessions,
    n_singleton_sessions, intra_session_idle_s, n_events).
    """
    ev = t["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.select(
        (
            F.col("ts").cast("long") - F.lag("ts").over(w).cast("long")
        ).alias("gap_prev"),
        (
            F.lead("ts").over(w).cast("long") - F.col("ts").cast("long")
        ).alias("gap_next"),
    )
    # ONE aggregate emits every arm's folds as columns (a union of
    # per-arm .agg() branches would re-run the window exchange once per
    # gap — Catalyst does not dedupe the shared subplan across union
    # branches; verified via explain); the 1-row result unpivots to
    # |gaps| rows with inline (free at 1 row).
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for g in gaps:
        gs = g * 60
        starts = F.col("gap_prev").isNull() | (F.col("gap_prev") > gs)
        ends = F.col("gap_next").isNull() | (F.col("gap_next") > gs)
        aggs.extend(
            [
                F.sum(starts.cast("long")).cast("long").alias(f"__ns_{g}"),
                F.sum((starts & ends).cast("long"))
                .cast("long")
                .alias(f"__single_{g}"),
                F.coalesce(
                    F.sum(
                        F.when(F.col("gap_prev") <= gs, F.col("gap_prev"))
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"__idle_{g}"),
            ]
        )
    row = gapped.agg(*aggs)
    structs = [
        F.struct(
            F.lit(int(g)).cast("long").alias("gap_minutes"),
            F.col(f"__ns_{g}").alias("n_sessions"),
            F.col(f"__single_{g}").alias("n_singleton_sessions"),
            F.col(f"__idle_{g}").alias("intra_session_idle_s"),
            F.col("n_events"),
        )
        for g in gaps
    ]
    return row.select(F.inline(F.array(*structs))).orderBy("gap_minutes")


def session_gap_curve_sql(
    gaps: tuple[int, ...] = SESSION_GAP_MINUTES
) -> str:
    """Twin: identical lag/lead projection and conditional folds."""
    arms = []
    for g in gaps:
        gs = g * 60
        arms.append(f"""
    SELECT CAST({g} AS BIGINT) AS gap_minutes,
           CAST(sum(CASE WHEN gap_prev IS NULL OR gap_prev > {gs}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN (gap_prev IS NULL OR gap_prev > {gs})
                          AND (gap_next IS NULL OR gap_next > {gs})
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_singleton_sessions,
           CAST(coalesce(sum(CASE WHEN gap_prev <= {gs} THEN gap_prev
                             END), 0) AS BIGINT) AS intra_session_idle_s,
           CAST(count(*) AS BIGINT) AS n_events
    FROM gapped""")
    union = "\n    UNION ALL\n    ".join(arms)
    return f"""
    WITH gapped AS (
        SELECT floor(epoch(ts))::BIGINT
               - floor(epoch(lag(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                 )))::BIGINT AS gap_prev,
               floor(epoch(lead(ts) OVER (
                     PARTITION BY user_id ORDER BY ts, event_id
                 )))::BIGINT
               - floor(epoch(ts))::BIGINT AS gap_next
        FROM events
    )
    {union}
    ORDER BY gap_minutes
    """


# ---------------------------------------------------------------------------
# user-level contribution capping (round 9)
# ---------------------------------------------------------------------------

USER_CAP_K = 3


def user_event_cap(
    t: dict[str, DataFrame], k: int = USER_CAP_K
) -> DataFrame:
    """Per-user contribution capping — the user-level bounding step of
    DP-style pipelines (and of any training set that must not be
    dominated by a single heavy account): keep each user's first ``k``
    events per day (by timestamp, event_id tiebreak), drop the rest,
    and report the per-day effect. Bounding per-user sensitivity is
    the precondition for the DP noise calibration `dp_noisy_counts`
    applies; it also caps the influence of bot/spam accounts on
    anything trained downstream.

    Deterministic: the keep rule is a total order (ts, event_id) so
    both engines keep the identical event set.

    Scale shape: ONE hash-partitioned window on (user, day) — millions
    of small partitions, no global sort — then a |days|-row aggregate.
    Output: (day, n_events, n_kept, n_dropped, n_users, capped_users)
    where capped_users counts users who lost at least one event.
    """
    ev = t["events"].select(
        "event_id",
        "user_id",
        "ts",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias(
            "day"
        ),
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "kept", (F.row_number().over(w) <= k).cast("long")
    )
    per_user = flagged.groupBy("day", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.sum("kept").cast("long").alias("n_kp"),
    )
    return (
        per_user.groupBy("day")
        .agg(
            F.sum("n_ev").cast("long").alias("n_events"),
            F.sum("n_kp").cast("long").alias("n_kept"),
            (F.sum("n_ev") - F.sum("n_kp")).cast("long").alias("n_dropped"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum((F.col("n_ev") > F.col("n_kp")).cast("long"))
            .cast("long")
            .alias("capped_users"),
        )
        .orderBy("day")
    )


def user_event_cap_sql(k: int = USER_CAP_K) -> str:
    return f"""
    WITH flagged AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               user_id,
               CASE WHEN row_number() OVER (
                        PARTITION BY user_id, date_trunc('day', ts)
                        ORDER BY ts, event_id
                    ) <= {k} THEN 1 ELSE 0 END AS kept
        FROM events
    ),
    per_user AS (
        SELECT day, user_id,
               CAST(count(*) AS BIGINT) AS n_ev,
               CAST(sum(kept) AS BIGINT) AS n_kp
        FROM flagged GROUP BY day, user_id
    )
    SELECT day,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(sum(n_kp) AS BIGINT) AS n_kept,
           CAST(sum(n_ev) - sum(n_kp) AS BIGINT) AS n_dropped,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN n_ev > n_kp THEN 1 ELSE 0 END) AS BIGINT)
               AS capped_users
    FROM per_user
    GROUP BY day
    ORDER BY day
    """
