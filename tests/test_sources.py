"""Source connector tests: format dispatch, JSONL round-trip, explicit
schemas, TSV parity with the reference's reader semantics."""

from __future__ import annotations

import pytest

from training_etl_demo_2_spark import sources


def test_read_table_parquet(spark, sf_dir):
    df = sources.read_table(spark, f"{sf_dir}/region.parquet", fmt="parquet")
    assert df.count() == 5


def test_jsonl_roundtrip(spark, tables, tmp_path):
    out = str(tmp_path / "docs.jsonl")
    tables["documents"].limit(20).write.mode("overwrite").json(out)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    df = sources.read_jsonl(spark, out, schema=schema)
    assert df.count() == 20
    assert df.schema.simpleString().startswith("struct<doc_id:bigint")


def test_tsv_all_string_without_schema(spark, tmp_path):
    p = tmp_path / "t.tsv"
    p.write_text("a\tb\n1\tx y\n2\tz\n")
    df = sources.read_tsv(spark, str(p))
    assert [f.dataType.simpleString() for f in df.schema.fields] == ["string", "string"]
    assert df.count() == 2


def test_read_table_rejects_unknown_format(spark):
    with pytest.raises(ValueError, match="unsupported format"):
        sources.read_table(spark, "/tmp/x", fmt="avro")


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    from pyspark.sql import functions as F

    from training_etl_demo_2_spark import io as io_mod

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)  # never set: the case that used to leak
    prior = spark.conf.get(key)
    path = str(tmp_path / "part_tbl")
    df = spark.createDataFrame(
        [("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 3)],
        "day string, v int",
    )
    io_mod.write_partitioned(df, path, ["day"])
    assert spark.read.parquet(path).count() == 3
    # the write's dynamic mode does not leak into the session
    assert spark.conf.get(key) == prior

    # dynamic overwrite of ONE day must leave the other day intact
    redo = spark.createDataFrame([("2024-01-02", 99)], "day string, v int")
    io_mod.write_partitioned(redo, path, ["day"])
    assert spark.conf.get(key) == prior
    # hive partition values are type-inferred on read (day -> date)
    got = {
        (str(r["day"]), r["v"]) for r in spark.read.parquet(path).collect()
    }
    assert got == {("2024-01-01", 1), ("2024-01-01", 2), ("2024-01-02", 99)}
    # partition pruning works on the layout
    pruned = spark.read.parquet(path).filter(F.col("day") == "2024-01-02")
    assert pruned.count() == 1


def test_compact_run_reduces_files_preserves_rows(spark, tmp_path):
    from pathlib import Path

    from training_etl_demo_2_spark import io as io_mod

    root = str(tmp_path / "runs")
    df = spark.range(1000).withColumnRenamed("id", "v")
    io_mod.write_run(df.repartition(40), root, run_id="20240101_000000")
    n_before = len(
        [f for f in Path(io_mod.latest_run(root).data_path).rglob("*.parquet")]
    )
    assert n_before >= 40

    out = io_mod.compact_run(spark, root, target_bytes=10 * 1024 * 1024)
    n_after = len([f for f in Path(out.data_path).rglob("*.parquet")])
    assert n_after < n_before
    compacted = spark.read.parquet(out.data_path)
    assert compacted.count() == 1000
    assert {r["v"] for r in compacted.collect()} == set(range(1000))
    # provenance recorded; latest_run now discovers the compacted run
    assert out.metadata["compacted_from"] == "20240101_000000"
    assert io_mod.latest_run(root).run_id == out.run_id


def test_write_clustered_layout(spark, tables, tmp_path):
    """Clustered write: partition dirs exist, files within a partition
    cover non-overlapping sorted bands of the cluster key, and a
    partition predicate prunes at plan level."""
    from pathlib import Path

    from pyspark.sql import functions as F

    from training_etl_demo_2_spark.io import write_clustered

    out = str(tmp_path / "events_clustered")
    write_clustered(
        tables["events"], out,
        partition_by=["event_type"], cluster_by=["ts"],
        max_records_per_file=200,
    )
    part_dirs = sorted(p.name for p in Path(out).iterdir() if p.is_dir())
    assert all(d.startswith("event_type=") for d in part_dirs)
    assert len(part_dirs) >= 2

    # per-file (min,max) bands of ts must not interleave within a partition
    one = Path(out) / part_dirs[0]
    bands = []
    for f in sorted(one.glob("*.parquet")):
        pdf = spark.read.parquet(str(f)).select("ts").toPandas()
        # file content itself sorted
        assert list(pdf["ts"]) == sorted(pdf["ts"])
        bands.append((pdf["ts"].min(), pdf["ts"].max()))
    bands.sort()
    for (lo1, hi1), (lo2, hi2) in zip(bands, bands[1:]):
        assert hi1 <= lo2  # non-overlapping bands -> min/max stats prune

    # partition pruning reaches the scan
    plan = (
        spark.read.parquet(out)
        .filter(F.col("event_type") == part_dirs[0].split("=", 1)[1])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [" in plan and "event_type" in plan


def test_orc_roundtrip(spark, tables, tmp_path):
    out = str(tmp_path / "region_orc")
    tables["region"].write.mode("overwrite").orc(out)
    df = sources.read_table(spark, out, fmt="orc")
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        tuple(r) for r in tables["region"].collect()
    )


def test_zorder_key_interleaves_and_localizes(spark, tables, tmp_path):
    from pathlib import Path

    from pyspark.sql import functions as F

    from training_etl_demo_2_spark.io import write_clustered, zorder_key

    # bit-level unit check: (a=0b11, b=0b00) -> 0b0101; (a=0, b=0b11) -> 0b1010
    row = spark.range(1).select(
        zorder_key(F.lit(3), F.lit(0), bits=4).alias("z1"),
        zorder_key(F.lit(0), F.lit(3), bits=4).alias("z2"),
        zorder_key(F.lit(3), F.lit(3), bits=4).alias("z3"),
    ).collect()[0]
    assert (row.z1, row.z2, row.z3) == (0b0101, 0b1010, 0b1111)

    # layout check: z-ordered files bound BOTH dimensions' per-file spans
    # (a 1-D sort on t would leave u spans at the full global range)
    ev = tables["events"].select(
        "event_id",
        (F.col("user_id") % 16).alias("u"),
        (F.unix_timestamp("ts") % 16).alias("t"),
    ).withColumn("z", zorder_key("u", "t", bits=4))
    out = str(tmp_path / "zordered")
    write_clustered(ev, out, partition_by=[], cluster_by=["z"],
                    max_records_per_file=200)
    files = sorted(Path(out).glob("*.parquet"))
    assert len(files) >= 4
    for dim in ("u", "t"):
        global_span = (
            ev.agg(F.max(dim) - F.min(dim)).collect()[0][0]
        )
        spans = []
        for f in files:
            pdf = spark.read.parquet(str(f)).toPandas()
            spans.append(pdf[dim].max() - pdf[dim].min())
        assert sum(spans) / len(spans) < 0.8 * global_span, (dim, spans)


def test_load_tables_enforces_utc_session(spark, sf_dir):
    """The naive<->instant timestamp normalization is only
    value-preserving under a UTC session; load_tables must correct a
    caller session that drifted (and on every call, not just the first
    — the plan cache is checked after the conf enforcement)."""
    from training_etl_demo_2_spark.io import load_tables

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        load_tables(spark, sf_dir)
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_read_csv_with_quarantine_splits_good_and_bad(spark, tmp_path):
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from training_etl_demo_2_spark.io import read_csv_with_quarantine

    p = tmp_path / "in.csv"
    p.write_text(
        "word,count\n"
        "alpha,3\n"
        "beta,not_a_number\n"   # type mismatch -> quarantine
        "gamma,7\n"
    )
    schema = StructType(
        [
            StructField("word", StringType()),
            StructField("count", IntegerType()),
        ]
    )
    result = read_csv_with_quarantine(spark, str(p), schema)
    good, bad = result  # tuple-style unpacking supported
    assert {(r["word"], r["count"]) for r in good.collect()} == {
        ("alpha", 3),
        ("gamma", 7),
    }
    bad_rows = [r.raw_record for r in bad.collect()]
    assert len(bad_rows) == 1 and "not_a_number" in bad_rows[0]
    result.unpersist()
    assert not result._parsed.is_cached


def test_synthetic_docs_datasource_parallel_pushdown(spark):
    """Custom Python DataSource (Spark 4 API): partition-parallel scan,
    doc_id range pushdown reaching the source plan, deterministic rows."""
    from training_etl_demo_2_spark.sources.synthetic_docs import (
        SyntheticDocsDataSource,
        _doc_row,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    prev = spark.conf.get("spark.sql.python.filterPushdown.enabled", "false")
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        df = (
            spark.read.format("synthetic_docs")
            .option("n_docs", 1000)
            .option("rows_per_partition", 250)
            .load()
        )
        assert df.count() == 1000
        assert df.rdd.getNumPartitions() == 4
        sliced = df.filter("doc_id >= 100 and doc_id < 120")
        assert sliced.count() == 20
        # the range predicates are absorbed by the source (only the
        # residual isnotnull survives as a post-scan Filter)
        plan = sliced._jdf.queryExecution().executedPlan().toString()
        assert ">= 100" not in plan and "< 120" not in plan
        assert "isnotnull" in plan
        # retried/speculative tasks must regenerate identical rows
        assert tuple(df.filter("doc_id = 7").collect()[0]) == _doc_row(7)
        # equality pushdown narrows the planned range to one row
        assert df.filter("doc_id = 999").count() == 1
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", prev)


def test_synthetic_docs_stream_resumes_exactly_once(spark, tmp_path):
    """Streaming half of the custom DataSource: repeated availableNow
    runs over one checkpoint drain the bounded feed with EXACTLY-ONCE
    delivery — each restart resumes from the committed offset, no row
    lost or duplicated."""
    from training_etl_demo_2_spark.sources.synthetic_docs import (
        SyntheticDocsDataSource,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    ckpt, out = str(tmp_path / "ckpt"), str(tmp_path / "out")
    for _ in range(6):
        stream = (
            spark.readStream.format("synthetic_docs")
            .option("n_docs", 500)
            .option("batch_rows", 100)
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    df = spark.read.parquet(out)
    assert df.count() == 500
    assert df.select("doc_id").distinct().count() == 500


def test_read_text_corpus_line_and_wholefile(spark, tmp_path):
    import gzip

    d = tmp_path / "corpus"
    d.mkdir()
    (d / "a.txt").write_text("first line\nsecond line\n")
    with gzip.open(d / "b.txt.gz", "wt") as f:
        f.write("gzipped one\ngzipped two\n")

    lines = sources.read_text_corpus(spark, str(d))
    got = sorted(r.doc_text for r in lines.collect())
    assert got == ["first line", "gzipped one", "gzipped two", "second line"]

    docs = sources.read_text_corpus(spark, str(d), whole_files=True)
    rows = {r.path.rsplit("/", 1)[-1]: r.doc_text for r in docs.collect()}
    assert rows["a.txt"] == "first line\nsecond line\n"
    assert rows["b.txt.gz"] == "gzipped one\ngzipped two\n"


def test_xml_roundtrip_via_read_table(spark, tmp_path):
    xml = tmp_path / "rows.xml"
    xml.write_text(
        "<rows><row><id>1</id><name>alpha</name></row>"
        "<row><id>2</id><name>beta</name></row></rows>"
    )
    df = sources.read_table(spark, str(xml), fmt="xml", rowTag="row")
    got = {(r.id, r.name) for r in df.collect()}
    assert got == {(1, "alpha"), (2, "beta")}


def test_read_binary_files_feeds_multimodal_layout(spark, tmp_path):
    payload_a = b"\x89PNG\r\n\x1a\n" + b"x" * 64
    payload_b = b"RIFFxxxxWAVE" + b"y" * 32
    (tmp_path / "a.png").write_bytes(payload_a)
    (tmp_path / "b.wav").write_bytes(payload_b)
    (tmp_path / "skip.txt").write_text("not media")

    df = sources.read_binary_files(spark, str(tmp_path), glob="*.{png,wav}")
    rows = {r.path.rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.png", "b.wav"}
    assert bytes(rows["a.png"].content) == payload_a
    assert rows["b.wav"].length == len(payload_b)


def test_binary_ingest_to_multimodal_pipeline(spark, tmp_path):
    """End-to-end multimodal front door: raw files -> binaryFile scan
    -> parquet with a binary payload column -> metadata op over the
    REAL payloads (not the text-derived fakes)."""
    from pyspark.sql import functions as F

    payload = b"\x89PNG\r\n\x1a\n" + bytes(range(64))
    (tmp_path / "m1.png").write_bytes(payload)
    (tmp_path / "m2.png").write_bytes(payload[:32])

    lake = str(tmp_path / "media_lake")
    (
        sources.read_binary_files(spark, str(tmp_path), glob="*.png")
        .select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col("content").alias("payload"),
            F.lit("image").alias("media_type"),
            F.col("length").alias("nbytes"),
        )
        .write.mode("overwrite")
        .parquet(lake)
    )
    media = spark.read.parquet(lake)
    out = media.select(
        "doc_id",
        F.length("payload").cast("long").alias("nbytes"),
        F.upper(F.hex(F.substring("payload", 1, 4))).alias("magic_hex"),
    ).collect()
    assert {r.nbytes for r in out} == {72, 32}
    assert all(r.magic_hex == "89504E47" for r in out)  # PNG magic
