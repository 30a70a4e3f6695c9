"""Driver-gate streaming queries: Structured Streaming plans replayed
over the fixture parquet with ``availableNow`` and compared — by the
external oracle gate — against plain batch SQL on the same rows.

This is the strongest correctness statement the streaming layer can
make: the watermarked incremental plan, run to completion on a bounded
source, must produce EXACTLY the batch answer (Structured Streaming's
core guarantee).  The generic operators live in ``windowed.py`` /
``stateful.py``; this module only binds them to the fixture layout and
drives them to a queryable memory sink.

Determinism notes:
* aggregates use exact integer units (``floor(value*10^4 + 0.5)`` per
  row, summed as BIGINT) — float accumulation order can differ between
  micro-batch partial aggs and DuckDB and must never reach the hash;
* the fixture ``events.parquet`` stores ``ts`` as TIMESTAMP(NANOS): the
  file-source schema declares it LONG (``nanosAsLong``) and converts via
  integer division, bit-identical to ``io.load_tables``;
* ``complete`` output mode so every window is emitted at end-of-input
  (append mode would hold back windows newer than the final watermark).

Scale notes: on a real cluster the source swaps for Kafka and the sink
for a Delta/parquet table — the aggregation plan (shuffle on
(window, key), partial aggs, watermark-bounded state) is unchanged.
The memory sink holds only the aggregated result (|windows| x |keys|
rows), never raw events.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from training_etl_demo_2_spark.io import _normalize_ts, load_tables

# Probed file-source schemas per (appId, sf_dir, table): the on-disk
# encoding of events.ts has varied across fixture generations
# (TIMESTAMP(NANOS) read as long via nanosAsLong, vs timestamp[us] read
# as TIMESTAMP_NTZ), so the stream source schema is derived from a
# one-time batch read of the same file instead of being hard-coded.
_SCHEMA_CACHE: dict[tuple[str, str, str], "object"] = {}


def _read_stream_fixture(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one fixture table (the local stand-in
    for a Kafka topic), its schema probed once per application."""
    key = (spark.sparkContext.applicationId, sf_dir, table)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        # The stream source requires a declared schema; probe the batch
        # reader's view of the file so the declared types match the
        # physical encoding exactly (a LONG declaration over a
        # timestamp[us] file silently mis-scales every value).
        path = os.path.join(sf_dir, f"{table}.parquet")
        schema = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = schema
    # Each fixture table is a single file, and the file stream source
    # requires a directory path: stream the sf_dir with a glob filter
    # selecting just this table.
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def read_events_stream_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events stream, with the timestamp normalization applied
    identically to the batch reader (io.load_tables /
    io._normalize_ts) — whichever encoding the fixture ships."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return _normalize_ts(_read_stream_fixture(spark, sf_dir, "events"), "ts")


# Bounded-fixture replays run with a small state-partition count: every
# shuffle partition materializes its own state-store instance per
# micro-batch — a fixed per-partition cost that dwarfs the fixture's
# data volume (32 -> 8 partitions cuts replay wall-clock ~3x with
# bit-identical output; partition count never affects keyed-aggregation
# results). On a real cluster spark.sql.shuffle.partitions is sized to
# the executor cores and state scales out horizontally — this binding
# applies only to the bounded replay harness, never to the operators.
REPLAY_SHUFFLE_PARTITIONS = "8"


@contextmanager
def _replay_partitions(spark: SparkSession):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, REPLAY_SHUFFLE_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set(key, old)


# Replay checkpoints live on tmpfs when available (r11): the bounded
# availableNow drain to a memory sink needs NO checkpoint durability —
# the checkpoint holds offsets/commits/state for exactly one replay and
# is deleted on completion — while its per-micro-batch offset/commit/
# state-file fsyncs sit on the drain's critical path (/tmp here is
# disk-backed). Same-session A/B (plans/r11_ab_batch2.json):
# 0.90/0.94/0.99/1.02x across four representative streams. On a real
# cluster the sink is a durable table and the checkpoint a durable
# store — like REPLAY_SHUFFLE_PARTITIONS, this binds only the replay
# harness, never the operators. (A 8->4 state-partition cut was also
# A/B'd: it helps small-state streams ~0.85x but penalizes
# stream_near_dup's banded self-join 1.09x — rejected.)
_REPLAY_CKPT_BASE = "/dev/shm" if os.path.isdir("/dev/shm") else None


def _replay_to_table(
    result: DataFrame,
    name: str,
    timeout_s: float = 300.0,
    output_mode: str = "complete",
) -> None:
    """Drain a streaming plan to the memory table ``name`` with
    availableNow and the replay-harness bindings (state partitions,
    tmpfs checkpoint) — the single replay path every fixture stream
    uses (r11: previously 8 near-identical inline copies)."""
    import shutil
    import tempfile

    with _replay_partitions(result.sparkSession):
        ckpt = tempfile.mkdtemp(
            prefix=f"replay_{name}_", dir=_REPLAY_CKPT_BASE
        )
        try:
            q = (
                result.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            try:
                if not q.awaitTermination(timeout_s):
                    raise TimeoutError(
                        f"stream {name} did not drain in {timeout_s}s"
                    )
            finally:
                q.stop()
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)


def stream_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate (1h windows per event_type),
    replayed to completion — must equal the batch GROUP BY."""
    src = read_events_stream_fixture(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("value_t4"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "value_t4",
        )
    )
    _replay_to_table(agg, "gate_stream_hourly")
    return spark.table("gate_stream_hourly")


def stream_user_nation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched against the static
    customer->nation dimension (broadcast — the dimension is re-read per
    micro-batch, so keeping it broadcastable is the scale-critical
    choice), aggregated per nation."""
    src = read_events_stream_fixture(spark, sf_dir)
    t = load_tables(spark, sf_dir)
    dim = (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    joined = src.join(F.broadcast(dim), on="user_id")
    agg = joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("value_t4"),
    )
    _replay_to_table(agg, "gate_stream_user_nation")
    return spark.table("gate_stream_user_nation")


def stream_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful prefix-z-score anomaly stream replayed to completion.
    Its exact batch twin is a prefix window (rows unbounded-preceding to
    1-preceding) — what the oracle runs. The flagged-row set must match
    row for row; only the integer prefix count rides along (no float
    statistic reaches the compared output)."""
    from .stateful import anomaly_stream

    src = read_events_stream_fixture(spark, sf_dir)
    out = anomaly_stream(src, z_threshold=3.0, min_history=30)
    # applyInPandasWithState(update) requires Update output mode; each
    # flagged row is emitted exactly once, so the memory table is the
    # plain union of alerts.
    _replay_to_table(out, "gate_stream_anomalies", output_mode="update")
    return spark.table("gate_stream_anomalies")


def stream_sliding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked SLIDING-window aggregate (2 h windows every 1 h per
    event_type) — each event lands in exactly two overlapping windows.
    Completes the window-family coverage next to the tumbling
    (stream_hourly_stats) and session (windowed.events_sessions)
    variants; replayed to completion it must equal the batch answer
    where each event is expanded into both of its windows."""
    src = read_events_stream_fixture(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "3 hours")
        .groupBy(
            F.window("ts", "2 hours", "1 hour").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("value_t4"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "value_t4",
        )
    )
    _replay_to_table(agg, "gate_stream_sliding")
    return spark.table("gate_stream_sliding")


# Each event belongs to the two 2h/1h-slide windows starting at
# trunc_hour(ts)-1h and trunc_hour(ts) (Spark windows are epoch-aligned);
# the batch twin expands every event into both windows explicitly.
STREAM_SLIDING_STATS_ORACLE = """
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_t4
    FROM (
        SELECT unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
                       date_trunc('hour', ts)]) AS ws,
               event_type, value
        FROM events
    )
    GROUP BY 1, 2
"""


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join replayed to completion: purchases
    attributed to a prior click by the same user within 1 hour
    (streaming.stateful.correlate_streams — both sides watermarked,
    time-range predicate bounding state). Inner-join matches emit as
    found, so append-mode replay must equal the batch theta join."""
    from .stateful import correlate_streams

    src = read_events_stream_fixture(spark, sf_dir)
    joined = correlate_streams(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        F.floor(F.col("purchase_value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("purchase_t4"),
    )
    _replay_to_table(out, "gate_stream_attribution", output_mode="append")
    return spark.table("gate_stream_attribution")


def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows on a stream (30 min inactivity closes
    a session), replayed to completion. The batch twin is the classic
    lag/cumsum sessionizer with the SAME boundary rule — Spark session
    windows are [start, last_event + gap), so an event exactly ``gap``
    after its predecessor starts a NEW session (>= comparison, exact
    microseconds, no second-flooring). Value sums ride in exact 1e-4
    integer units so micro-batch partial-agg order cannot reach the
    hash."""
    src = read_events_stream_fixture(spark, sf_dir)
    agg = (
        src.withWatermark("ts", "2 hours")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("win"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("value_t4"),
        )
        .select(
            "user_id",
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("win.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            "value_t4",
        )
    )
    _replay_to_table(agg, "gate_stream_sessions")
    return spark.table("gate_stream_sessions")


STREAM_SESSION_STATS_ORACLE = """
    WITH lagged AS (
        SELECT user_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_ts
        FROM events
    ),
    flagged AS (
        SELECT *,
               CASE WHEN prev_ts IS NULL
                         OR epoch_us(ts) - epoch_us(prev_ts)
                            >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS new_session
        FROM lagged
    ),
    sess AS (
        SELECT *,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING
               ) AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
               AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_t4
    FROM sess
    GROUP BY user_id, session_seq
"""


STREAM_ATTRIBUTION_ORACLE = """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(floor(p.value * 10000 + 0.5) AS BIGINT) AS purchase_t4
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 1 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
"""


def stream_hourly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour on a stream. ``countDistinct`` is
    unsupported in streaming aggregations, so this is the canonical
    two-stage chain: watermarked ``dropDuplicates`` keyed on
    (user_id, hour) — state bounded by the watermark — feeding a
    windowed count. Replayed to completion it must equal the batch
    COUNT(DISTINCT)."""
    src = read_events_stream_fixture(spark, sf_dir)
    hourly = (
        src.withColumn("hour_ts", F.date_trunc("hour", F.col("ts")))
        .withWatermark("hour_ts", "2 hours")
        .dropDuplicates(["user_id", "hour_ts"])
        .groupBy("hour_ts")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.date_format("hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_users",
        )
    )
    _replay_to_table(hourly, "gate_stream_hourly_users")
    return spark.table("gate_stream_hourly_users")


STREAM_HOURLY_USERS_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1
"""


STREAM_ANOMALIES_ORACLE = """
    SELECT event_id, user_id, event_type, round(value, 2) AS value, n_prev
    FROM (
        SELECT event_id, user_id, event_type, value,
               count(*) OVER w AS n_prev,
               avg(value) OVER w AS m,
               stddev_samp(value) OVER w AS sd
        FROM events
        WINDOW w AS (
            PARTITION BY event_type ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    )
    WHERE n_prev >= 30 AND sd > 0 AND abs(value - m) > 3 * sd
"""


STREAM_HOURLY_STATS_ORACLE = """
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_t4
    FROM events
    GROUP BY 1, 2
"""

STREAM_USER_NATION_ORACLE = """
    SELECT n_name,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_t4
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
"""


def stream_exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: the incremental form of
    ``dedup.exact_dedup_groups`` — documents arrive as a stream, state
    is one (min doc_id, count) pair per content fingerprint, and the
    replayed result must equal the batch groups exactly (shared oracle:
    ``oracle.exact_dedup_sql``). This is the always-on ingest-dedup
    service shape: new deliveries fold into fingerprint state instead
    of re-running corpus dedup.

    State is fingerprint-keyed (8 bytes + two longs per distinct
    content) — the same relation incremental_dedup materializes
    batch-wise; min/count are algebraic, so micro-batch partials merge
    exactly and arrival order cannot change the result.
    """
    from ..functions import normalize_text, rolling_hash

    docs = _read_stream_fixture(spark, sf_dir, "documents")
    agg = (
        docs.select(
            "doc_id", rolling_hash(normalize_text("text")).alias("fp")
        )
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )
    _replay_to_table(agg, "gate_stream_exact_dedup")
    return spark.table("gate_stream_exact_dedup")


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for the custom-stateful layer (applyInPandasWithState):
    per-user lifetime totals accumulated across micro-batches, final
    state per user compared against plain batch GROUP BY. Update-mode
    re-emits a user's running total every batch that touches them; the
    final row per user is selected by max n_events (monotone in the
    fold), making the comparison exactly "end state == batch answer" —
    the stateful-operator correctness statement.
    """
    from .stateful import running_user_totals

    out = running_user_totals(read_events_stream_fixture(spark, sf_dir))
    _replay_to_table(out, "gate_stream_user_totals", output_mode="update")
    from pyspark.sql import Window

    emitted = spark.table("gate_stream_user_totals")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        emitted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value")
    )


STREAM_USER_TOTALS_ORACLE = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY user_id
"""


def stream_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful one-sided CUSUM drift alarm replayed to completion.
    Exact-integer state (prefix sum + running min), so the batch twin
    is a window prefix-sum/running-min scan — the oracle below. Each
    exceedance row emits exactly once (update mode)."""
    from .stateful import cusum_alarm_stream

    src = read_events_stream_fixture(spark, sf_dir)
    out = cusum_alarm_stream(src)
    _replay_to_table(out, "gate_stream_cusum", output_mode="update")
    return spark.table("gate_stream_cusum")


def _stream_cusum_oracle() -> str:
    from .stateful import CUSUM_H_T4, CUSUM_SLACK_T4, CUSUM_TARGET_T4

    return f"""
    WITH seq AS (
        SELECT event_id, event_type, ts,
               CAST(floor(value * 10000 + 0.5) AS BIGINT)
                   - {CUSUM_TARGET_T4} - {CUSUM_SLACK_T4} AS y
        FROM events
    ),
    cur AS (
        SELECT event_id, event_type, ts,
               CAST(sum(y) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS BIGINT) AS p
        FROM seq
    ),
    scanned AS (
        SELECT event_id, event_type, p,
               CAST(min(p) OVER (PARTITION BY event_type
                                 ORDER BY ts, event_id) AS BIGINT) AS mp
        FROM cur
    )
    SELECT event_id, event_type,
           CAST(p - least(mp, 0) AS BIGINT) AS s_t4
    FROM scanned
    WHERE p - least(mp, 0) > {CUSUM_H_T4}
    """


STREAM_CUSUM_ORACLE = _stream_cusum_oracle()


def stream_click_funnel_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join replayed to completion: every
    click paired with its within-1h purchase OR emitted unmatched by
    state expiry (the funnel-loss report an inner join cannot produce).

    Batch-equality statement (the append-mode guarantee for outer
    joins): matched rows equal the batch left-join's matched rows;
    null rows appear exactly for unmatched clicks with
    ``click_ts + 1h < min(max click ts, max purchase ts) − 2h`` —
    Spark's min-of-inputs watermark policy with per-side max event
    time, millisecond-floored. The oracle twin applies the same
    cutoff to the batch left join.
    """
    from .stateful import correlate_streams

    src = read_events_stream_fixture(spark, sf_dir)
    joined = correlate_streams(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
        how="left",
        max_gap="1 hour",
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("purchase_id").isNotNull()).cast("long").alias("matched"),
    )
    _replay_to_table(out, "gate_stream_funnel_loss", output_mode="append")
    return spark.table("gate_stream_funnel_loss")


STREAM_FUNNEL_LOSS_ORACLE = """
    WITH c AS (
        SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT make_timestamp(
                   least((SELECT epoch_ms(max(click_ts)) FROM c),
                         (SELECT epoch_ms(max(purchase_ts)) FROM p))
                   * 1000 - CAST(7200 AS BIGINT) * 1000000
               ) AS w
    ),
    j AS (
        SELECT c.c_user AS user_id, c.click_id, p.purchase_id, c.click_ts
        FROM c LEFT JOIN p
          ON c.c_user = p.p_user
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    )
    SELECT user_id, click_id, purchase_id,
           CAST(purchase_id IS NOT NULL AS BIGINT) AS matched
    FROM j, wm
    WHERE purchase_id IS NOT NULL
       OR click_ts + INTERVAL 1 HOUR < wm.w
"""


def stream_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL distinct-user sketch: the register relation
    (idx → max rho) is maintained as streaming state — an algebraic
    max-aggregate, so micro-batch partials merge exactly and arrival
    order cannot change a register — then the (batch) estimate fold
    reads the drained registers. This is the always-on cardinality
    service shape at 100 TB: ≤ m rows of state total, one register
    update per event, estimates served off the live register table.

    The oracle is the BATCH HLL over the same events: register-max
    mergeability (see sketches.hll_rollup_merge) makes streaming and
    batch registers IDENTICAL, so the comparison is hash-exact, not
    approximate — a full-oracle streaming row, not rows-only.
    """
    from ..operators.sketches import _hll_fold, _hll_registers

    ev = read_events_stream_fixture(spark, sf_dir)
    regs = _hll_registers(ev, F.col("user_id").cast("long"))
    _replay_to_table(regs, "gate_stream_hll_users")
    return _hll_fold(spark.table("gate_stream_hll_users")).select(
        "v_empty", "s_int", F.round("est", 6).alias("est_r6")
    )


def _stream_hll_oracle() -> str:
    from ..operators.sketches import _hll_fold_sql, _hll_regs_sql

    return f"""
    WITH {_hll_regs_sql("regs", "user_id", "events")}
    SELECT CAST(v_empty AS BIGINT) AS v_empty,
           CAST(s_int AS BIGINT) AS s_int,
           round(est, 6) AS est_r6
    FROM ({_hll_fold_sql("regs")})
    """


STREAM_HLL_USERS_ORACLE = _stream_hll_oracle()


def stream_funnel_two_sided(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream FULL OUTER join replayed to completion — the
    two-sided funnel: every click matched or provably orphaned AND
    every purchase matched or provably unattributed (organic). The
    third member of the stream-stream join family (inner:
    stream_click_attribution, left: stream_click_funnel_loss).

    Batch-equality statement: matched rows equal the batch inner
    join's; null-purchase rows appear exactly for unmatched clicks
    with ``click_ts + 1h < W``; null-click rows exactly for unmatched
    purchases with ``purchase_ts <= W`` (a matching click must precede
    the purchase strictly, so state expires the moment W reaches it —
    the <= edge is empirically pinned by a planted boundary test),
    where W = min(max click ts, max purchase ts) − 2h, ms-floored.
    """
    from .stateful import correlate_streams

    src = read_events_stream_fixture(spark, sf_dir)
    joined = correlate_streams(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
        how="full",
        max_gap="1 hour",
    )
    out = joined.select(
        "user_id",
        "click_id",
        "purchase_id",
        (F.col("purchase_id").isNotNull() & F.col("click_id").isNotNull())
        .cast("long")
        .alias("matched"),
    )
    _replay_to_table(out, "gate_stream_funnel_two_sided", output_mode="append")
    return spark.table("gate_stream_funnel_two_sided")


STREAM_FUNNEL_TWO_SIDED_ORACLE = """
    WITH c AS (
        SELECT user_id AS c_user, event_id AS click_id, ts AS click_ts
        FROM events WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id AS p_user, event_id AS purchase_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    wm AS (
        SELECT make_timestamp(
                   least((SELECT epoch_ms(max(click_ts)) FROM c),
                         (SELECT epoch_ms(max(purchase_ts)) FROM p))
                   * 1000 - CAST(7200 AS BIGINT) * 1000000
               ) AS w
    ),
    m AS (
        SELECT c.c_user AS user_id, c.click_id, p.purchase_id
        FROM c JOIN p
          ON c.c_user = p.p_user
         AND p.purchase_ts > c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    ),
    uc AS (
        SELECT c.c_user AS user_id, c.click_id, NULL::BIGINT AS purchase_id
        FROM c, wm
        WHERE c.click_ts + INTERVAL 1 HOUR < wm.w
          AND NOT EXISTS (SELECT 1 FROM m WHERE m.click_id = c.click_id)
    ),
    up AS (
        SELECT p.p_user AS user_id, NULL::BIGINT AS click_id, p.purchase_id
        FROM p, wm
        WHERE p.purchase_ts <= wm.w
          AND NOT EXISTS (
              SELECT 1 FROM m WHERE m.purchase_id = p.purchase_id)
    ),
    u AS (
        SELECT * FROM m UNION ALL SELECT * FROM uc UNION ALL SELECT * FROM up
    )
    SELECT user_id, click_id, purchase_id,
           CAST(click_id IS NOT NULL AND purchase_id IS NOT NULL AS BIGINT)
               AS matched
    FROM u
"""


def stream_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate row for the order-sensitive stateful layer: streaming
    first-fit packing (one (seq, acc) accumulator per deterministic
    group) replayed to completion must equal the BATCH packer row for
    row — the shared oracle is ``curation.pack_sequences_sql``. Each
    doc is emitted exactly once (it arrives in exactly one
    micro-batch), so update mode needs no final-state selection."""
    from .stateful import pack_stream

    docs = _read_stream_fixture(spark, sf_dir, "documents")
    out = pack_stream(docs, budget=256, n_groups=8)
    _replay_to_table(out, "gate_stream_pack", output_mode="update")
    return spark.table("gate_stream_pack")


def stream_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming banded near-dup probe — the always-on ingest form of
    ``dedup.incremental_near_dup``: documents arrive as a stream (odd
    doc_ids = the delivery), each row derives its MinHash band keys
    ROW-LOCALLY (shingle-hash array -> ``array_min`` signatures -> band
    fold; no aggregation anywhere upstream, so the plan is
    streaming-legal with no watermark), probes the STATIC corpus LSH
    index (even doc_ids — the (doc, band, key, hs) relation a
    deployment persists and appends each accepted batch to) via a
    stream-static equi-join, and verifies candidates with exact
    Jaccard on the co-shipped shingle arrays.

    The same-pair multi-band hits the batch path removes with
    ``distinct()`` are collapsed here by a (doc_new, doc_old) aggregate
    (jaccard is identical per pair, max is a no-op fold), replayed in
    complete mode. State is one row per MATCHED pair — delivery-sized,
    not corpus-sized; an always-on deployment bounds it with a
    per-delivery watermark + dropDuplicatesWithinWatermark.

    Shared oracle: ``oracle.incremental_near_dup_sql`` verbatim — the
    replayed incremental answer must equal the batch-vs-index answer.
    """
    from ..operators.dedup import (
        DEFAULT_NGRAM,
        _band_relation,
        _shingle_arrays,
    )
    from ..cache import tracked_persist

    def banded(df: DataFrame, id_alias: str, hs_alias: str) -> DataFrame:
        hs = _shingle_arrays(df, "text", DEFAULT_NGRAM)
        return _band_relation(hs).select(
            F.col("doc_id").alias(id_alias),
            F.col("hs").alias(hs_alias),
            "band",
            "bk",
        )

    corpus = (
        load_tables(spark, sf_dir)["documents"]
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "text")
    )
    index = banded(corpus, "doc_old", "hb").transform(tracked_persist)

    delivery = (
        _read_stream_fixture(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "text")
    )
    probe = banded(delivery, "doc_new", "ha")

    shared = F.size(F.array_intersect("ha", "hb"))
    pairs = (
        probe.join(index, ["band", "bk"])
        .select(
            "doc_new",
            "doc_old",
            F.round(
                shared / (F.size("ha") + F.size("hb") - shared), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.8)
        .groupBy("doc_new", "doc_old")
        .agg(F.max("jaccard").alias("jaccard"))
    )
    _replay_to_table(pairs, "gate_stream_near_dup")
    return spark.table("gate_stream_near_dup")


def stream_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's FLAGSHIP query as an always-on service: word
    frequency over a document stream (explode → groupBy(word) → count),
    replayed with availableNow in complete mode. The aggregation is
    algebraic, so micro-batch partials merge exactly and the final
    table must equal the batch `word_count` gate row bit-for-bit —
    shared oracle verbatim. At scale this is the canonical Kafka →
    windowless running-aggregate shape; state is |vocab| rows.
    """
    from ..functions import explode_words

    docs = _read_stream_fixture(spark, sf_dir, "documents")
    agg = (
        docs.select(explode_words("text", " ").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _replay_to_table(agg, "gate_stream_word_count")
    return spark.table("gate_stream_word_count").orderBy(
        F.desc("cnt"), F.asc("word")
    )


def stream_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Gopher gate telemetry: the rule flags are pure row-local
    integer expressions (``text.gopher_quality_rules``), so the
    always-on ingest filter is a stateless map — the only state is this
    one-row telemetry fold (docs seen, per-rule failure counts, docs
    passing all rules), replayed to completion and compared against the
    batch aggregate over the same rules. This is the monitoring row a
    deployment alerts on when a crawl source goes bad mid-ingest.
    """
    from ..operators.text import GOPHER_RULES, gopher_quality_rules

    docs = _read_stream_fixture(spark, sf_dir, "documents")
    agg = gopher_quality_rules(docs).selectExpr(
        "CAST(count(1) AS BIGINT) AS n_docs",
        *[f"CAST(sum(CAST(NOT {r} AS BIGINT)) AS BIGINT) AS n_fail_{r[3:]}"
          for r in GOPHER_RULES],
        "CAST(sum(CAST(pass_all AS BIGINT)) AS BIGINT) AS n_pass_all",
    )
    _replay_to_table(agg, "gate_stream_quality_gate")
    return spark.table("gate_stream_quality_gate")


STREAM_QUALITY_GATE_ORACLE_TEMPLATE = """
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN NOT ok_word_count THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fail_word_count,
           CAST(sum(CASE WHEN NOT ok_mean_word_len THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fail_mean_word_len,
           CAST(sum(CASE WHEN NOT ok_symbol_ratio THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fail_symbol_ratio,
           CAST(sum(CASE WHEN NOT ok_alpha_words THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fail_alpha_words,
           CAST(sum(CASE WHEN NOT ok_stopwords THEN 1 ELSE 0 END)
               AS BIGINT) AS n_fail_stopwords,
           CAST(sum(CASE WHEN pass_all THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass_all
    FROM ({gopher_sql})
"""


def stream_blocklist_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming blocklist telemetry: the C4-style badword gate
    (``text.blocklist_hit_report``'s per-row fold) as an always-on
    ingest monitor — hit counting is a stateless row-local array fold,
    so the only state is this ONE-ROW telemetry aggregate (docs seen,
    docs with >=1 hit, total hits, clean docs), replayed to completion
    and oracle-compared against the batch aggregate over the same
    rule. The alerting row for a source starting to leak blocked
    content mid-ingest.
    """
    from ..operators.text import blocklist_hits

    docs = _read_stream_fixture(spark, sf_dir, "documents")
    agg = docs.select(blocklist_hits("text").alias("hits")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("hits") > 0).cast("long")).cast("long").alias(
            "docs_hit"
        ),
        F.sum("hits").cast("long").alias("total_hits"),
        F.sum((F.col("hits") == 0).cast("long")).cast("long").alias(
            "n_clean"
        ),
    )
    _replay_to_table(agg, "gate_stream_blocklist_gate")
    return spark.table("gate_stream_blocklist_gate")


def stream_blocklist_gate_oracle_sql() -> str:
    from ..operators.text import blocklist_hits_sql

    return f"""
    WITH per_doc AS (
        SELECT {blocklist_hits_sql()} AS hits
        FROM documents
    )
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_hit,
           CAST(sum(hits) AS BIGINT) AS total_hits,
           CAST(sum(CASE WHEN hits = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clean
    FROM per_doc
    """
