"""Custom stateful streaming: applyInPandasWithState accumulators and
watermark-bounded streaming dedup, verified against batch equivalents."""

from __future__ import annotations

from pyspark.sql import functions as F

from training_etl_demo_2_spark.streaming import stateful, windowed


def _write_batches(events, out_dir, n_files):
    events.repartition(n_files).write.mode("overwrite").parquet(str(out_dir))


def test_running_totals_accumulate_across_batches(spark, tables, tmp_path):
    """maxFilesPerTrigger=1 over 3 files → 3 micro-batches; the final
    emission per user must equal the batch groupBy totals."""
    events = tables["events"]
    in_dir = tmp_path / "ev_state"
    _write_batches(events, in_dir, 3)

    stream = windowed.read_events_stream(spark, str(in_dir))
    result = stateful.running_user_totals(stream)
    q = (
        result.writeStream.format("memory")
        .queryName("user_totals_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        emitted = spark.sql("SELECT * FROM user_totals_test").collect()
    finally:
        q.stop()

    # totals are monotone per user: the max n_events row is the final state
    final = {}
    for r in emitted:
        if r.user_id not in final or r.n_events > final[r.user_id][0]:
            final[r.user_id] = (r.n_events, r.sum_value)

    want = {
        r.user_id: (r.n, r.s)
        for r in events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .collect()
    }
    assert set(final) == set(want)
    for uid, (n, s) in want.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - s) < 0.05
    # state really accumulated across batches: some user updated more than once
    assert len(emitted) > len(want)


def test_anomaly_stream_stable_at_large_offset(spark, tmp_path):
    """Welford-state regression guard: values at offset 1e8 with unit
    spread. The old (n, Σv, Σv²) state computed variance as
    (Σv² - n·mean²)/(n-1) — at this magnitude the subtraction loses
    ~16 significant digits and borderline |z|>3 flags flip vs the
    engine-native prefix stddev_samp the oracle uses. The streamed
    flag set must equal the batch prefix-window answer exactly."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    offset = 1.0e8
    rows = []
    for i in range(80):
        # deterministic unit-spread noise, plus two clear outliers
        noise = ((i * 37) % 7) - 3.0
        v = offset + noise + (40.0 if i in (50, 70) else 0.0)
        rows.append(
            (i, base + datetime.timedelta(seconds=i), i % 5, "click", v, "{}")
        )
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    # Replay determinism requires TIME-ORDERED micro-batches (the
    # operator's documented precondition — true for log replay): write
    # three time-slice files sequentially so the file source, which
    # orders by modification time, feeds them in event-time order.
    import time

    in_dir = tmp_path / "ev_offset"
    for lo, hi in ((0, 30), (30, 60), (60, 80)):
        events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        time.sleep(1.1)  # distinct mtimes at fs timestamp granularity

    stream = windowed.read_events_stream(spark, str(in_dir))
    result = stateful.anomaly_stream(stream, z_threshold=3.0, min_history=30)
    q = (
        result.writeStream.format("memory")
        .queryName("anomaly_offset_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {r.event_id for r in spark.sql(
            "SELECT * FROM anomaly_offset_test").collect()}
    finally:
        q.stop()

    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    batch = (
        events.select(
            "event_id",
            "value",
            F.count(F.lit(1)).over(w).alias("n_prev"),
            F.avg("value").over(w).alias("m"),
            F.stddev_samp("value").over(w).alias("sd"),
        )
        .filter(
            (F.col("n_prev") >= 30)
            & (F.col("sd") > 0)
            & (F.abs(F.col("value") - F.col("m")) > 3 * F.col("sd"))
        )
    )
    want = {r.event_id for r in batch.collect()}
    assert 50 in want and 70 in want  # the planted outliers
    assert got == want


def test_anomaly_stream_submillisecond_ties(spark, tmp_path):
    """Tie-proof fold ordering: events sharing the same MILLISECOND but
    differing at microsecond resolution — plus exact-microsecond ties
    broken only by event_id — must fold in (ts, event_id) order, the
    same total order the batch prefix-window oracle uses. A reader that
    compresses ts to ms (the round-3 fixture drift) or a fold sorted on
    a truncated column would permute the prefix and flip borderline
    flags."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(80):
        noise = ((i * 37) % 7) - 3.0
        v = noise + (40.0 if i in (45, 65) else 0.0)
        # Groups of 4 share one millisecond; pairs inside share one
        # exact microsecond (ordering falls through to event_id).
        ts = base + datetime.timedelta(
            seconds=i // 4, milliseconds=0, microseconds=250 * ((i % 4) // 2)
        )
        rows.append((i, ts, i % 5, "click", v, "{}"))
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import time

    in_dir = tmp_path / "ev_ties"
    for lo, hi in ((0, 40), (40, 80)):
        events.filter(
            (F.col("event_id") >= lo) & (F.col("event_id") < hi)
        ).coalesce(1).write.mode("append").parquet(str(in_dir))
        time.sleep(1.1)

    stream = windowed.read_events_stream(spark, str(in_dir))
    result = stateful.anomaly_stream(stream, z_threshold=3.0, min_history=30)
    q = (
        result.writeStream.format("memory")
        .queryName("anomaly_ties_test")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            (r.event_id, r.n_prev)
            for r in spark.sql("SELECT * FROM anomaly_ties_test").collect()
        }
    finally:
        q.stop()

    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    batch = (
        events.select(
            "event_id",
            "value",
            F.count(F.lit(1)).over(w).alias("n_prev"),
            F.avg("value").over(w).alias("m"),
            F.stddev_samp("value").over(w).alias("sd"),
        )
        .filter(
            (F.col("n_prev") >= 30)
            & (F.col("sd") > 0)
            & (F.abs(F.col("value") - F.col("m")) > 3 * F.col("sd"))
        )
    )
    want = {(r.event_id, r.n_prev) for r in batch.collect()}
    assert 45 in {e for e, _ in want} and 65 in {e for e, _ in want}
    assert got == want


def test_stream_to_keyvalue_sink(spark, tables, tmp_path):
    """Streamed events land in the batched key-value sink exactly once
    per event_id (dedup upstream, keyed last-write-wins in the sink)."""
    import json

    events = tables["events"].limit(100).cache()
    in_dir = tmp_path / "ev_kv"
    events.coalesce(1).write.mode("append").parquet(str(in_dir))

    out_file = tmp_path / "kv_items.jsonl"

    def factory():
        def put(items):
            with open(out_file, "a") as f:
                for it in items:
                    f.write(json.dumps({"event_id": it["event_id"]}) + "\n")

        return put

    stream = windowed.read_events_stream(spark, str(in_dir))
    deduped = stateful.dedup_stream(stream).select("event_id", "ts", "value")
    q = stateful.stream_to_keyvalue(
        deduped, factory, str(tmp_path / "ckpt"), batch_size=7, num_partitions=2
    )
    q.awaitTermination(120)
    q.stop()

    ids = [json.loads(l)["event_id"] for l in out_file.read_text().splitlines()]
    assert sorted(ids) == sorted(r.event_id for r in events.collect())


def test_dedup_stream_drops_replayed_batch(spark, tables, tmp_path):
    """Write the same events twice (replay) → streaming dedup must emit
    each event_id once."""
    events = tables["events"].limit(200).cache()
    in_dir = tmp_path / "ev_dedup"
    # same rows appended twice into one source dir = a replayed batch
    events.coalesce(1).write.mode("append").parquet(str(in_dir))
    events.coalesce(1).write.mode("append").parquet(str(in_dir))

    stream = windowed.read_events_stream(spark, str(in_dir))
    result = stateful.dedup_stream(stream)
    q = (
        result.writeStream.format("memory")
        .queryName("dedup_stream_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = spark.sql("SELECT event_id FROM dedup_stream_test").collect()
    finally:
        q.stop()
    ids = [r.event_id for r in got]
    assert len(ids) == len(set(ids))
    assert set(ids) == {r.event_id for r in events.select("event_id").collect()}


def test_enrich_stream_static_join(spark, tables, tmp_path):
    """Stream-static broadcast join == the equivalent batch join."""
    events = tables["events"].limit(300).cache()
    in_dir = tmp_path / "ev_enrich"
    events.coalesce(1).write.mode("append").parquet(str(in_dir))

    dim = tables["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    stream = windowed.read_events_stream(spark, str(in_dir))
    enriched = stateful.enrich_stream(stream, dim, "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    try:
        got = {
            (r.event_id, r.c_mktsegment)
            for r in spark.sql("SELECT * FROM enrich_test").collect()
        }
    finally:
        q.stop()
    want = {
        (r.event_id, r.c_mktsegment)
        for r in events.join(dim, "user_id", "left")
        .select("event_id", "c_mktsegment")
        .collect()
    }
    assert got == want


def test_stream_stream_join_attribution(spark, tables, tmp_path):
    """Watermarked stream-stream join == the equivalent batch join."""
    events = tables["events"].cache()
    clicks_dir = tmp_path / "ss_clicks"
    purch_dir = tmp_path / "ss_purch"
    clicks_b = events.filter(F.col("event_type") == "click")
    purch_b = events.filter(F.col("event_type") == "purchase")
    clicks_b.coalesce(1).write.mode("append").parquet(str(clicks_dir))
    purch_b.coalesce(1).write.mode("append").parquet(str(purch_dir))

    joined = stateful.correlate_streams(
        windowed.read_events_stream(spark, str(clicks_dir)),
        windowed.read_events_stream(spark, str(purch_dir)),
        max_gap="1 hour",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    try:
        got = {
            (r.click_id, r.purchase_id)
            for r in spark.sql("SELECT * FROM ss_join_test").collect()
        }
    finally:
        q.stop()

    want = {
        (r.click_id, r.purchase_id)
        for r in clicks_b.alias("c")
        .join(
            purch_b.alias("p"),
            F.expr(
                "c.user_id = p.user_id AND p.ts > c.ts "
                "AND p.ts <= c.ts + INTERVAL 1 HOUR"
            ),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
        .collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_to_partitioned_lake_idempotent(spark, tables, tmp_path):
    """foreachBatch -> dynamic partition overwrite: replaying the same
    input converges to the same lake state (partition-level
    exactly-once), and the layout is day-partitioned."""
    events = tables["events"]
    in_dir = tmp_path / "ev_lake_in"
    _write_batches(events, in_dir, 2)

    out = str(tmp_path / "lake")

    def run(ckpt: str):
        stream = windowed.read_events_stream(spark, str(in_dir))
        daily = stream.select(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
            "event_id",
            "user_id",
            "value",
        )
        q = stateful.stream_to_partitioned_lake(
            daily, out, ckpt, partition_by=["day"]
        )
        q.awaitTermination(120)
        q.stop()

    run(str(tmp_path / "ckpt1"))
    first = spark.read.parquet(out)
    n_days = first.select("day").distinct().count()
    assert first.count() == events.count()
    assert n_days >= 1

    # fresh checkpoint -> full replay of the same input: dynamic
    # overwrite rewrites each day in place, no duplication
    run(str(tmp_path / "ckpt2"))
    again = spark.read.parquet(out)
    assert again.count() == events.count()
    assert again.select("day").distinct().count() == n_days
    assert {r["event_id"] for r in again.select("event_id").collect()} == {
        r["event_id"] for r in events.select("event_id").collect()
    }


def test_anomaly_stream_multichunk_group(spark, tmp_path):
    """A key whose micro-batch slice spans MULTIPLE Arrow chunks
    (arrow.maxRecordsPerBatch below the group size) must still fold in
    global (ts, event_id) order — the fold sorts the key's whole slice,
    not each chunk."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(80):
        noise = ((i * 37) % 7) - 3.0
        v = noise + (40.0 if i in (45, 65) else 0.0)
        rows.append(
            (i, base + datetime.timedelta(seconds=i), i % 5, "click", v, "{}")
        )
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    in_dir = tmp_path / "ev_chunks"
    events.coalesce(1).write.parquet(str(in_dir))

    orig = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        stream = windowed.read_events_stream(spark, str(in_dir))
        result = stateful.anomaly_stream(
            stream, z_threshold=3.0, min_history=30
        )
        q = (
            result.writeStream.format("memory")
            .queryName("anomaly_chunks_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        try:
            got = {
                r.event_id
                for r in spark.sql(
                    "SELECT * FROM anomaly_chunks_test"
                ).collect()
            }
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", orig)

    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    batch = (
        events.select(
            "event_id",
            "value",
            F.count(F.lit(1)).over(w).alias("n_prev"),
            F.avg("value").over(w).alias("m"),
            F.stddev_samp("value").over(w).alias("sd"),
        )
        .filter(
            (F.col("n_prev") >= 30)
            & (F.col("sd") > 0)
            & (F.abs(F.col("value") - F.col("m")) > 3 * F.col("sd"))
        )
    )
    want = {r.event_id for r in batch.collect()}
    assert 45 in want and 65 in want
    assert got == want
