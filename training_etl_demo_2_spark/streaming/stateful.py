"""Custom stateful streaming operators (north-star §2.12 / SURVEY §2.9).

Where ``windowed.py`` uses built-in windowed aggregation, these are the
ARBITRARY-state path: ``applyInPandasWithState`` keeps a typed state row
per group key across micro-batches — the Spark idiom for operators whose
state machine the built-ins can't express (running counters, CDC-style
accumulators, custom sessionization policies).

Scale notes: state lives in the executor state store partitioned by the
group key (one shuffle per batch on that key); watermarks bound state for
the event-time operators. On a real cluster back the store with RocksDB
(``spark.sql.streaming.stateStore.providerClass``) so state >> heap is
fine. Arrow batches move rows executor↔Python, same as the batch
Pandas-UDF paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_SCHEMA = "user_id long, n_events long, sum_value double"
RUNNING_TOTALS_STATE = "n long, s double"


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user lifetime totals, updated each micro-batch.

    State: one (n, s) row per user, merged with every arriving batch;
    emits the new running total for users seen in the batch ("update"
    semantics). This is the minimal template for any
    accumulate-forever stateful operator.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        RUNNING_TOTALS_SCHEMA,
        RUNNING_TOTALS_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


ANOMALY_SCHEMA = (
    "event_id long, user_id long, event_type string, value double, n_prev long"
)
ANOMALY_STATE = "n long, mean double, m2 double"


def anomaly_stream(
    stream: DataFrame, z_threshold: float = 3.0, min_history: int = 30
) -> DataFrame:
    """Streaming anomaly detection: flag events whose value deviates
    more than ``z_threshold`` sample stddevs from the PREFIX statistics
    of their event_type — the online form of the batch
    ``validation.value_anomalies`` (which scores against global stats).

    State per type is three numbers (n, mean, M2) maintained by
    Welford's update — O(1) regardless of stream length and numerically
    stable: the earlier (n, Σv, Σv²) state computed variance as
    (Σv² - n·mean²)/(n-1), which catastrophically cancels when value
    magnitudes dwarf the spread and can flip borderline |z|>threshold
    decisions against the oracle's native stddev_samp (itself
    Welford-style). Each row is scored against history STRICTLY BEFORE
    it (so the answer is replay-deterministic given time-ordered input)
    and then folded into the state. Rows are sorted (ts, event_id)
    within each batch; across batches determinism holds whenever the
    source replays in time order — true for log replay and the fixture.

    The per-row prefix stats are fully VECTORIZED while keeping the
    stability property that motivated Welford state: center the batch
    on the carried mean (first batch: on its own first value) so the
    cumsum runs over O(spread)-magnitude deviations, then apply Chan's
    parallel merge per prefix — mean_k = μc + S_k/(n0+k) and
    M2_k = M2_0 + Q_k − S_k²/(n0+k) with S/Q the centered (co)cumsums.
    The centering removes the catastrophic cancellation of the naive
    (Σv² − n·mean²) form at large value offsets (the regression case:
    offset 1e8, unit spread — test_anomaly_stream_stable_at_large_offset)
    without a per-row Python loop. Emits only flagged rows: the alert
    stream the reqdef anomaly scenario (reqdef.yaml:11,15) notifies on."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        outs = []
        # applyInPandasWithState splits a key's micro-batch slice into
        # multiple Arrow chunks (arrow.maxRecordsPerBatch, default 10k)
        # with no cross-chunk ordering guarantee — sort the key's WHOLE
        # slice, not each chunk, or rows score against a permuted prefix.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            chunks = [whole.sort_values(["ts", "event_id"])]
        for pdf in chunks:
            v = pdf["value"].to_numpy(dtype=np.float64)
            if not len(v):
                continue
            k = len(v)
            n_prev = n + np.arange(k, dtype=np.int64)
            mu_c = mean if n > 0 else float(v[0])
            c = v - mu_c
            # Prefix sums STRICTLY BEFORE each row (S_prev[0] = 0).
            s_cum = np.cumsum(c)
            q_cum = np.cumsum(c * c)
            s_prev = np.concatenate(([0.0], s_cum[:-1]))
            q_prev = np.concatenate(([0.0], q_cum[:-1]))
            with np.errstate(divide="ignore", invalid="ignore"):
                mean_prev = np.where(
                    n_prev > 0, mu_c + s_prev / n_prev, 0.0
                )
                m2_prev = np.where(
                    n_prev > 0,
                    m2 + q_prev - (s_prev * s_prev) / n_prev,
                    0.0,
                )
            n_new = n + k
            mean = mu_c + float(s_cum[-1]) / n_new
            m2 = max(
                m2 + float(q_cum[-1]) - float(s_cum[-1]) ** 2 / n_new, 0.0
            )
            n = n_new
            with np.errstate(divide="ignore", invalid="ignore"):
                var = m2_prev / (n_prev - 1)
                sd = np.sqrt(np.where(var > 0, var, 0.0))
            hit = (
                (n_prev >= min_history)
                & (sd > 0)
                & (np.abs(v - mean_prev) > z_threshold * sd)
            )
            if hit.any():
                sel = pdf.iloc[np.nonzero(hit)[0]]
                outs.append(
                    pd.DataFrame(
                        {
                            "event_id": sel["event_id"].astype("int64"),
                            "user_id": sel["user_id"].astype("int64"),
                            "event_type": key[0],
                            "value": np.round(v[hit], 2),
                            "n_prev": n_prev[hit],
                        }
                    )
                )
        state.update((n, float(mean), float(m2)))
        for out in outs:
            yield out

    return stream.groupBy("event_type").applyInPandasWithState(
        update,
        ANOMALY_SCHEMA,
        ANOMALY_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def correlate_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    how: str = "inner",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream join of clicks and purchases by the same user, the
    purchase landing inside ``max_gap`` after the click. ``how`` is
    ``"inner"`` (attribution), ``"left"`` (funnel loss: every click) or
    ``"full"`` (two-sided funnel: every click and every purchase);
    ``user_id`` is the click's user, or the purchase's on a
    purchase-only row.

    Both sides are watermarked and the join carries a time-range
    predicate — the two conditions Spark needs to BOUND the join state
    (each side buffers only rows younger than watermark+gap, for every
    ``how``). Without them a stream-stream join grows state forever;
    with them this is the standard attribution/correlation shape at
    any scale.

    Emission rules (empirically pinned by the fixture queries
    stream_click_attribution, stream_click_funnel_loss and
    stream_funnel_two_sided):

    * matched rows emit as found (all three join types);
    * outer rows are generated by STATE EXPIRY, so emission timing is
      part of the semantics, not just the matched set. The global
      watermark W follows Spark's min-of-inputs policy — both sides
      watermark independently (max event time seen on THAT side minus
      the delay, millisecond floor) and the join state uses the
      MINIMUM;
    * ``left`` and ``full``: an unmatched click emits iff
      ``click_ts + max_gap < W`` (left state expires when no on-time
      purchase can still land inside the gap);
    * ``full``: an unmatched purchase emits iff ``purchase_ts <= W``
      (its matching clicks satisfy click_ts < purchase_ts, so once the
      watermark reaches purchase_ts no on-time click can precede it).

    On an unbounded stream W keeps advancing and every unmatched row
    eventually emits; on a bounded replay rows younger than the final
    W are withheld — by design, they could still match if the stream
    resumed.
    """
    from pyspark.sql import functions as F

    c = clicks.withWatermark("ts", watermark).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", watermark).select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {max_gap}
            """
        ),
        how,
    ).select(
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )


def enrich_stream(stream: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static join: enrich a stream with a dimension table.

    Spark plans the static side as a broadcast re-read per micro-batch
    (no stream-state); at 100 TB keep dimensions broadcastable or
    pre-bucket them — stream-static joins never shuffle the stream on
    the join key when the static side broadcasts.
    """
    from pyspark.sql import functions as F

    return stream.join(F.broadcast(dim), on, how)


def stream_to_keyvalue(
    result: DataFrame,
    put_batch_factory,
    checkpoint_dir: str,
    batch_size: int = 25,
    num_partitions: int = 4,
):
    """Bridge a streaming result into the batched key-value sink: each
    micro-batch runs the same ``repartition(n).foreachPartition`` writer
    the batch path uses (sinks/keyvalue.py), so one sink implementation
    serves both. The checkpoint gives exactly-once *batch tracking*;
    end-to-end idempotence still relies on keyed last-write-wins at the
    endpoint (same contract as the reference's DynamoDB loader).
    """
    from ..sinks.keyvalue import write_keyvalue

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        write_keyvalue(
            batch_df,
            put_batch_factory,
            batch_size=batch_size,
            num_partitions=num_partitions,
        )

    return (
        result.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps a keyed state entry only
    until the watermark passes it — bounded state, unlike plain
    ``dropDuplicates`` on a stream which grows forever. The streaming
    twin of the batch ``dedup.drop_exact_duplicates``.
    """
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_to_partitioned_lake(
    result: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_by: list[str],
):
    """Continuously materialize a streaming result into the hive-layout
    lake with partition-level exactly-once, no table format needed.

    Layout: ``path/<partition_by...>/_batch_id=N/``. The batch id rides
    as the INNERMOST partition column, so every micro-batch owns a
    disjoint set of leaf partitions: a REPLAYED batch (the checkpoint's
    failure mode) dynamically overwrites exactly its own leaves and
    converges, while distinct batches that share an event-time
    partition can never clobber each other (plain dynamic overwrite on
    event-time alone fails exactly that way — batch 2 would replace a
    day batch 1 already wrote). Readers prune on the event-time
    partitions as usual and ignore ``_batch_id``.
    """
    from pyspark.sql import functions as F

    from ..io import write_partitioned

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        write_partitioned(
            batch_df.withColumn("_batch_id", F.lit(batch_id)),
            path,
            partition_by + ["_batch_id"],
            dynamic=True,
        )

    return (
        result.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4 arbitrary-state API)
# ---------------------------------------------------------------------------


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """`running_user_totals` on Spark 4's transformWithStateInPandas —
    the successor API to applyInPandasWithState: typed state handles
    (value/list/map state), timers, TTL, and RocksDB-backed state out
    of the box. Semantics here are IDENTICAL to the
    applyInPandasWithState twin above (one (n, s) accumulator per
    user, update-mode emission), so either API can serve the same
    query.

    ENVIRONMENT NOTE: the transformWithState Python driver worker
    speaks a protobuf protocol; this container ships no
    `google.protobuf`, so the operator is exercised by
    `tests/test_stateful_streaming.py::test_running_totals_tws` only
    where protobuf is importable (skipped here, like the media codec
    stubs). The applyInPandasWithState twin carries the tested
    semantics; this function is the migration template.

    Requires `spark.sql.streaming.stateStore.providerClass` =
    RocksDBStateStoreProvider (set by the caller before starting the
    query).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("totals", "n long, s double")

        def handleInputRows(self, key, rows, timer_values):
            st = self.state.get()
            n, s = (st[0], st[1]) if st else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                s += float(pdf["value"].sum())
            self.state.update((n, s))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(s, 2)],
                }
            )

        def close(self) -> None:
            pass

    return stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=RUNNING_TOTALS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# streaming CUSUM drift alarm
# ---------------------------------------------------------------------------

# fixed design point (t4 = value·10⁴ integer units): reference level the
# process SHOULD run at, one-sided slack, and the alarm threshold
CUSUM_TARGET_T4 = 550_000
CUSUM_SLACK_T4 = 50_000
CUSUM_H_T4 = 5_000_000

CUSUM_SCHEMA = "event_id long, event_type string, s_t4 long"
CUSUM_STATE = "p long, min_p long"


def cusum_alarm_stream(
    stream: DataFrame,
    target_t4: int = CUSUM_TARGET_T4,
    slack_t4: int = CUSUM_SLACK_T4,
    h_t4: int = CUSUM_H_T4,
) -> DataFrame:
    """Streaming one-sided CUSUM (Page 1954) per event_type over exact
    integer t4 value units: S_t = max(0, S_{t−1} + (x_t − target −
    slack)), alarm while S_t > h — the sequential drift detector that
    fires on a sustained small upward shift long before any per-row
    z-score would (the per-row detector is ``anomaly_stream``; the
    retrospective single-changepoint scan is the batch
    ``cusum_changepoint``).

    State per type is TWO integers — the running prefix sum P_t and
    its running minimum (seeded with 0) — because the CUSUM recursion
    has the exact closed form S_t = P_t − min(0, P_1..P_t); integer
    state means the stream is bit-deterministic and the batch twin is
    a plain prefix-sum + running-min window (what the oracle runs).
    No float enters the compared output. Alarms do NOT reset S (every
    exceedance row is emitted once) — the monitoring-stream semantics
    that keeps the closed form exact.

    Ordering discipline: the key's whole micro-batch slice is sorted
    (ts, event_id) before folding, same as ``anomaly_stream``; replay
    determinism holds for time-ordered sources (log replay, fixture).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        p0, min_p = state.get if state.exists else (0, 0)
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                chunks[0]
                if len(chunks) == 1
                else pd.concat(chunks, ignore_index=True)
            )
            chunks = [whole.sort_values(["ts", "event_id"])]
        for pdf in chunks:
            v = pdf["value"].to_numpy(dtype=np.float64)
            y = (
                np.floor(v * 10000 + 0.5).astype(np.int64)
                - target_t4
                - slack_t4
            )
            p = p0 + np.cumsum(y)
            m = np.minimum(np.minimum.accumulate(p), min_p)
            s = p - m
            hit = s > h_t4
            if hit.any():
                yield pd.DataFrame(
                    {
                        "event_id": pdf["event_id"].to_numpy()[hit],
                        "event_type": key[0],
                        "s_t4": s[hit],
                    }
                )
            p0 = int(p[-1])
            min_p = int(m[-1])
        state.update((p0, min_p))

    return stream.groupBy("event_type").applyInPandasWithState(
        update,
        CUSUM_SCHEMA,
        CUSUM_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )


PACK_STREAM_SCHEMA = "doc_id long, n_tokens long, pack_id string"
PACK_STREAM_STATE = "seq long, acc long"


def pack_stream(
    stream: DataFrame, budget: int = 256, n_groups: int = 8
) -> DataFrame:
    """STREAMING first-fit sequence packing — the always-on ingest
    form of ``curation.pack_sequences``: documents arrive in
    micro-batches, each deterministic group (doc_id % n_groups) keeps
    one (seq, acc) accumulator, and every arriving doc is appended to
    the group's open pack or starts a new one. Because the greedy
    recurrence is a pure left fold over doc_id order, the streamed
    result is IDENTICAL to the batch packer whenever groups see
    nondecreasing doc_ids across batches (the replay fixture delivers
    one batch, and an ingest pipeline's doc ids are monotone) — so the
    batch twin (``pack_sequences_sql``) is the exact oracle, the
    strongest statement a stateful streaming operator can make.

    Within a micro-batch the group's slice is buffer-sorted by doc_id
    (applyInPandasWithState hands chunks in shuffle order): per group
    per batch memory, the same bound the batch packer's per-group scan
    carries.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seq, acc = state.get if state.exists else (0, 0)
        grp = int(key[0])
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if not chunks:
            state.update((int(seq), int(acc)))
            return
        pdf = pd.concat(chunks).sort_values("doc_id")
        out = []
        for doc_id, tok in zip(pdf["doc_id"], pdf["n_tokens"]):
            tok = int(tok)
            if acc > 0 and acc + tok > budget:
                seq += 1
                acc = 0
            acc += tok
            out.append((int(doc_id), tok, f"{grp}-{seq}"))
        state.update((int(seq), int(acc)))
        yield pd.DataFrame(out, columns=["doc_id", "n_tokens", "pack_id"])

    src = stream.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
        (F.col("doc_id") % n_groups).alias("grp"),
    )
    return src.groupBy("grp").applyInPandasWithState(
        update,
        PACK_STREAM_SCHEMA,
        PACK_STREAM_STATE,
        "update",
        GroupStateTimeout.NoTimeout,
    )
