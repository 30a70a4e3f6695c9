"""Sources and sinks: portable re-expression of the reference's IO layer.

Reference behaviors re-expressed (see SURVEY.md §2.1):

* S1 TSV/CSV scan      — ``demo-etl-2a-notebook.py:25-35`` (Glue
  ``create_dynamic_frame.from_options`` with sep="\\t", header) →
  ``read_tsv``/``read_csv`` below (plain ``spark.read``; the
  DynamicFrame->DataFrame bridge S2 becomes a no-op).
* S3/S4 parquet sink/scan — ``demo-etl-2a-notebook.py:86``,
  ``process_tsv.py:62-64`` → ``write_parquet``/``read_parquet``.
* S5 JSON metadata sidecar — ``demo-etl-2a-notebook.py:68-82`` (json +
  boto3 upload) → ``write_run`` writes ``metadata.json`` beside the data
  on any Hadoop-visible filesystem (local path here, s3a:// on a cluster).
* S6 latest-run discovery — ``process_tsv.py:33-59`` (list_objects_v2 +
  LastModified sort) → ``latest_run`` (lexicographic run-id sort: run ids
  are zero-padded UTC timestamps, so name order == time order, which is
  cheaper and race-free vs mtime on object stores).

Scale notes: the run directory convention (``<root>/<run_id>/data`` +
``metadata.json``) is object-store friendly — one LIST of the root prefix
discovers runs; no per-object metadata reads are needed until the chosen
run's single ``metadata.json`` is fetched.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType
from .cache import tracked_cache


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """CSV/TSV scan (S1). Explicit schema preferred: schema inference costs
    an extra pass over the data — unacceptable at 100 TB."""
    reader = spark.read.options(sep=sep, header=header)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", False)  # all-string, like Glue's reader
    return reader.csv(path)


def read_tsv(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    return read_csv(spark, path, schema=schema, sep="\t")


@dataclass
class QuarantinedRead:
    """Result of a quarantine scan. Call :meth:`unpersist` after both
    frames are drained — the shared parsed scan is cached (Spark
    requires the corrupt column to be materialized before filtering on
    it, SPARK-21610), and without an explicit release a long-lived
    ingest loop would pin every delivery batch in executor storage."""

    good: DataFrame
    bad: DataFrame
    _parsed: DataFrame

    def unpersist(self, blocking: bool = False) -> None:
        self._parsed.unpersist(blocking=blocking)

    def __iter__(self):  # tuple-style unpacking: good, bad = read_...
        return iter((self.good, self.bad))


def read_csv_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    sep: str = ",",
    header: bool = True,
) -> QuarantinedRead:
    """CSV/TSV scan with a dead-letter path: ``good`` holds rows that
    parsed against ``schema``; ``bad`` carries the raw text of rows
    that failed (type mismatch, wrong column count).

    PERMISSIVE mode + ``columnNameOfCorruptRecord`` keeps the scan a
    single pass — malformed rows land in the corrupt column instead of
    failing the job (FAILFAST) or silently vanishing (DROPMALFORMED),
    the production posture for 100 TB ingest where a 1e-8 corruption
    rate is still thousands of rows someone must triage. Both frames
    filter one shared cached scan; the caller releases it via
    :meth:`QuarantinedRead.unpersist` once both are drained.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    corrupt = "_corrupt_record"
    full_schema = StructType(
        list(schema.fields) + [StructField(corrupt, StringType(), True)]
    )
    parsed = (
        spark.read.options(sep=sep, header=header, mode="PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(full_schema)
        .csv(path)
        .transform(tracked_cache)
    )
    good = parsed.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = parsed.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_record")
    )
    return QuarantinedRead(good, bad, parsed)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
) -> None:
    """Hive-layout partitioned write (``path/col=value/...``) — the lake
    layout that makes partition pruning free for every downstream scan.

    ``dynamic=True`` sets dynamic partition-overwrite for this write:
    an overwrite replaces ONLY the partitions present in ``df`` — the
    idempotent-backfill semantics (re-running a day's job rewrites that
    day, never truncating the table, which static overwrite would do).
    """
    spark = df.sparkSession
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        if dynamic:
            spark.conf.set(key, "dynamic")
        df.write.partitionBy(*partition_by).mode(mode).parquet(path)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def write_clustered(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    cluster_by: list[str],
    max_records_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Partitioned + clustered lake layout: Hive partitions for
    partition pruning, ``cluster_by``-sorted files for row-group/file
    skipping on range predicates.

    One range-shuffle on (partition, cluster) keys, then a sort within
    each task — so every output file covers a narrow, non-overlapping
    band of the cluster key and its parquet min/max footer stats prune
    it out of range scans (the OPTIMIZE ZORDER idea, single-dimension
    form, with zero table-format dependency). ``maxRecordsPerFile``
    bounds file size without an extra job: the sorted task output is
    rolled into sequential files."""
    keys = [*partition_by, *cluster_by]
    (
        df.repartitionByRange(*keys)
        .sortWithinPartitions(*keys)
        .write.option("maxRecordsPerFile", max_records_per_file)
        .partitionBy(*partition_by)
        .mode(mode)
        .parquet(path)
    )


def zorder_key(col_a, col_b, bits: int = 16):
    """Interleave the low ``bits`` of two non-negative integer columns
    into a Z-order (Morton) key — the 2-D clustering key for
    ``write_clustered(cluster_by=[...])`` when range queries hit EITHER
    dimension.

    Sorting by the interleaved key gives each output file a bounded
    min/max band on BOTH inputs (locality degrades gracefully instead
    of perfectly on one dim and not at all on the other). Pure bit
    arithmetic — whole-stage codegen, no UDF. Inputs must be
    pre-bucketed to non-negative ints (e.g. seconds, id buckets);
    callers clamp/scale upstream."""
    from pyspark.sql import functions as F

    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("long")
    b = b.cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        bit_a = F.shiftright(a, i).bitwiseAND(F.lit(1))
        bit_b = F.shiftright(b, i).bitwiseAND(F.lit(1))
        key = (
            key
            + F.shiftleft(bit_a, 2 * i)
            + F.shiftleft(bit_b, 2 * i + 1)
        )
    return key


def prune_runs(root: str, keep_n: int = 3) -> list[str]:
    """Retention for the run-directory convention: delete all but the
    newest ``keep_n`` runs (the VACUUM of this lake layout). Returns
    the removed run ids. Driver-side metadata operation — one listing,
    no Spark job."""
    import shutil

    rootp = Path(root)
    if not rootp.is_dir():
        return []
    runs = sorted(
        (d for d in rootp.iterdir() if (d / "metadata.json").is_file()),
        key=lambda d: d.name,
        reverse=True,
    )
    removed = []
    for d in runs[keep_n:]:
        shutil.rmtree(d)
        removed.append(d.name)
    return sorted(removed)


def compact_run(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 * 1024 * 1024,
    run: "RunInfo | None" = None,
) -> "RunInfo":
    """Small-files compaction: rewrite the latest (or given) run's data
    as a NEW run with ~``target_bytes`` files.

    The small-files problem is a first-order 100 TB concern: streaming
    and fine-grained jobs leave thousands of KB-sized files whose
    per-file open/footer costs dominate scans. Compaction = one job:
    list sizes (driver metadata only), ``coalesce(ceil(total/target))``
    (narrow — no shuffle), write a fresh immutable run directory, and
    record provenance in its metadata. Readers keep using
    ``latest_run``; the old run stays for time-travel/rollback, exactly
    like a table-format OPTIMIZE.
    """
    import math

    src = run or latest_run(root)
    if src is None:
        raise FileNotFoundError(f"no runs under {root}")
    total = sum(
        f.stat().st_size
        for f in Path(src.data_path).rglob("*.parquet")
        if f.is_file()
    )
    n_files = max(1, math.ceil(total / target_bytes))
    df = spark.read.parquet(src.data_path)
    return write_run(
        df.coalesce(n_files),
        root,
        extra_metadata={
            "compacted_from": src.run_id,
            "target_bytes": target_bytes,
            **{k: v for k, v in src.metadata.items() if k != "timestamp"},
        },
    )


# ---------------------------------------------------------------------------
# Run-directory convention (replaces S5/S6's boto3 code)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class RunInfo:
    run_id: str
    data_path: str
    metadata: dict


def new_run_id(now: datetime | None = None) -> str:
    now = now or datetime.now(timezone.utc)
    return now.strftime("%Y%m%d_%H%M%S")  # zero-padded: lexicographic == chronological


def write_run(
    df: DataFrame,
    root: str,
    run_id: str | None = None,
    input_files: list[str] | None = None,
    extra_metadata: dict | None = None,
) -> RunInfo:
    """Write ``df`` under ``<root>/<run_id>/data`` with a ``metadata.json``
    sidecar — the reference's analysis_results layout
    (``demo-etl-2a-notebook.py:63-82``) minus S3-specific plumbing."""
    run_id = run_id or new_run_id()
    run_dir = Path(root) / run_id
    data_path = str(run_dir / "data")
    df.write.mode("overwrite").parquet(data_path)
    metadata = {
        "timestamp": run_id,
        "input_files": input_files or [],
        **(extra_metadata or {}),
    }
    run_dir.mkdir(parents=True, exist_ok=True)
    with open(run_dir / "metadata.json", "w") as f:
        json.dump(metadata, f, indent=2)
    return RunInfo(run_id=run_id, data_path=data_path, metadata=metadata)


def latest_run(root: str) -> RunInfo | None:
    """Latest-run discovery (S6): newest run id whose metadata.json exists.

    Sorts run ids lexicographically (they are zero-padded timestamps), the
    portable equivalent of the reference's LastModified sort
    (``process_tsv.py:45``)."""
    rootp = Path(root)
    if not rootp.is_dir():
        return None
    for run_dir in sorted(rootp.iterdir(), reverse=True):
        meta_file = run_dir / "metadata.json"
        if meta_file.is_file():
            with open(meta_file) as f:
                metadata = json.load(f)
            return RunInfo(
                run_id=run_dir.name,
                data_path=str(run_dir / "data"),
                metadata=metadata,
            )
    return None


# ---------------------------------------------------------------------------
# Test-data catalog
# ---------------------------------------------------------------------------

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Timestamp columns whose on-disk parquet encoding has varied across
# fixture generations; normalize every encoding to session-TZ TIMESTAMP:
#   * TIMESTAMP(NANOS): Spark reads as long (nanosAsLong) -> integer-div
#     to micros (matching DuckDB/ANSI TIMESTAMP precision);
#   * timestamp[us] (isAdjustedToUTC=false): Spark reads as
#     TIMESTAMP_NTZ -> cast to TIMESTAMP. The session TZ is pinned UTC
#     (session.py), so the naive->local reinterpretation is
#     value-preserving and agrees with DuckDB's naive TIMESTAMP.
#   * timestamp[us, UTC]: already TIMESTAMP — no-op.
# The nanos-as-long reinterpretation is only safe where we KNOW the
# column is a timestamp (a plain bigint column must stay bigint), hence
# the explicit allowlist; the NTZ cast is type-driven and applied to
# every timestamp_ntz column of every table (_normalize_all_ntz).
_NORMALIZED_TS_COLS = {"events": ("ts",)}


def _normalize_ts(df: DataFrame, col: str) -> DataFrame:
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        # Integer division: ns epochs (~1.8e18) exceed double's 53-bit
        # mantissa, so `/ 1000` could land 1µs off.
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
    elif dtype == "timestamp_ntz":
        df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def _normalize_all_ntz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to session-TZ TIMESTAMP (UTC
    session → value-preserving), so a future fixture regeneration that
    flips another table's timestamp encoding cannot break operators the
    way events.ts did in round 3."""
    from pyspark.sql import functions as F

    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


# Plan cache: reading 10 parquet footers costs ~0.5 s of driver
# round-trips per call, and every registered query calls load_tables.
# DataFrames are immutable plans, so one dict per (session, dir) is safe
# (the fixture dirs are read-only). Keyed on applicationId — stable for
# a session's lifetime and never reused by a new session (unlike id(),
# which CPython can recycle after GC, leaving plans bound to a dead
# SparkContext).
_TABLE_CACHE: dict[tuple[str, str], dict[str, DataFrame]] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the star-schema test tables from a scale-factor directory."""
    # The caller's session may not come from our factory (e.g. the test
    # driver passes its own); nanosAsLong is runtime-settable, so enforce
    # it here — without it the events.parquet TIMESTAMP(NANOS) column is
    # unreadable (PARQUET_TYPE_ILLEGAL). The UTC session timezone is
    # equally load-bearing: the NTZ->TIMESTAMP cast and every
    # date_format/window rendering must agree with the naive DuckDB
    # oracle regardless of the host timezone, and both normalization
    # paths are only value-preserving under UTC. Enforced BEFORE the
    # plan-cache check so a caller that flips the timezone between
    # calls is corrected on every load, not just the first.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    cache_key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TABLE_CACHE.get(cache_key)
    if cached is not None:
        return dict(cached)

    dfs = {}
    for name in TABLES:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for col in _NORMALIZED_TS_COLS.get(name, ()):
            df = _normalize_ts(df, col)
        dfs[name] = _normalize_all_ntz(df)
    _TABLE_CACHE[cache_key] = dfs
    return dict(dfs)


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view — the engine's SQL surface
    (replaces the reference's Athena-over-parquet phase, reqdef.yaml:69-73)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


# ---------------------------------------------------------------------------
# columnar-format round-trips beyond parquet
# ---------------------------------------------------------------------------


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (zlib default). ORC is the second columnar format a
    lake engine must speak (Hive-lineage tables); Spark's reader/writer
    is built in, and predicate pushdown / column pruning work the same
    as parquet — `tests/test_formats.py` pins both behaviors."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_parquet_zstd(
    df: DataFrame, path: str, mode: str = "overwrite", level: int = 3
) -> None:
    """Parquet with zstd compression — the modern default for cold
    data (denser than snappy at similar scan cost; at 100 TB the
    storage/egress delta dominates the extra encode CPU). Level is a
    write-time knob only; readers are oblivious."""
    (
        df.write.mode(mode)
        .option("compression", "zstd")
        .option("parquet.compression.codec.zstd.level", str(level))
        .parquet(path)
    )


def read_parquet_evolved(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution read: union datasets written with different
    (compatible) schemas via mergeSchema — columns absent in older
    files surface as NULLs. This is the append-only lake evolution
    contract: add columns, never retype or drop (retyping int→string
    across files makes mergeSchema throw — quarantine-rewrite those
    partitions instead)."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_jsonl_with_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> QuarantinedRead:
    """JSONL scan with a dead-letter path — the JSON sibling of
    :func:`read_csv_with_quarantine`: ``good`` holds lines that parsed
    against ``schema``, ``bad`` the raw text of lines that didn't
    (syntax errors, type mismatches). Same single-pass PERMISSIVE +
    corrupt-column posture; same shared-cache contract.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    corrupt = "_corrupt_record"
    full_schema = StructType(
        list(schema.fields) + [StructField(corrupt, StringType(), True)]
    )
    parsed = (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt)
        .schema(full_schema)
        .json(path)
        .transform(tracked_cache)
    )
    good = parsed.filter(F.col(corrupt).isNull()).drop(corrupt)
    bad = parsed.filter(F.col(corrupt).isNotNull()).select(
        F.col(corrupt).alias("raw_record")
    )
    return QuarantinedRead(good, bad, parsed)


# ---------------------------------------------------------------------------
# ORC interchange round-trip (round 8)
# ---------------------------------------------------------------------------

ORC_ROUNDTRIP_DIR = "/tmp/spark_graft_orc_roundtrip"
ORC_ROUNDTRIP_STALE_S = 24 * 3600
_ORC_CLEANUP_REGISTERED: set[str] = set()


def _orc_roundtrip_register_cleanup(app_dir: str) -> None:
    """Bound /tmp growth from per-application ORC round-trip dirs:
    remove THIS app's subtree at interpreter exit (the summary
    DataFrame is lazy, so removal must outlive the session) and sweep
    sibling app dirs whose mtime is >1 day old (dead sessions)."""
    import atexit
    import shutil
    import time

    if app_dir not in _ORC_CLEANUP_REGISTERED:
        _ORC_CLEANUP_REGISTERED.add(app_dir)
        atexit.register(shutil.rmtree, app_dir, ignore_errors=True)
        try:
            # Record the owning pid: the staleness sweep skips dirs
            # whose owner is still alive on this host, so a session
            # that goes IDLE past the stale window (mtime refresh only
            # happens on calls) cannot have its dir reaped while its
            # lazy summary DataFrame still references it. /tmp is
            # host-local, so a live-pid check is authoritative.
            os.makedirs(app_dir, exist_ok=True)
            with open(os.path.join(app_dir, "owner.pid"), "w") as f:
                f.write(str(os.getpid()))
        except OSError:
            pass
    try:
        # Refresh our own dir's mtime on every call (fast path of the
        # same protection for active sessions).
        os.utime(app_dir, None)
    except OSError:
        pass

    def _owner_alive(d: str) -> bool:
        try:
            with open(os.path.join(d, "owner.pid")) as f:
                pid = int(f.read().strip())
        except (OSError, ValueError):
            return False  # no/garbled pid record: legacy dir, sweepable
        try:
            os.kill(pid, 0)
            return True
        except ProcessLookupError:
            return False
        except OSError:
            return True  # EPERM: pid exists under another uid — alive

    try:
        now = time.time()
        for name in os.listdir(ORC_ROUNDTRIP_DIR):
            sib = os.path.join(ORC_ROUNDTRIP_DIR, name)
            if sib == app_dir:
                continue
            try:
                if (
                    now - os.path.getmtime(sib) > ORC_ROUNDTRIP_STALE_S
                    and not _owner_alive(sib)
                ):
                    shutil.rmtree(sib, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass


def orc_roundtrip_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-interchange coverage beyond parquet: write the
    documents table to ORC (Spark's other built-in columnar format —
    the Hive-ecosystem interchange a migration inevitably meets), read
    it back, and fold the re-read rows to (n_rows, n_distinct_docs,
    content_checksum) — the dataset_manifest-style order-free
    decimal fold over (doc_id, text-fingerprint). The oracle computes
    the identical fold over the PARQUET rows, so a gate match proves
    the ORC round-trip is value-preserving for every compared byte,
    not merely row-count-stable.

    Scale shape: one write + one scan, both columnar and
    partition-parallel; the fold is a single partial-aggregable sum
    (commutative → partition-order-free on any layout).
    """
    from pyspark.sql import functions as F

    from .functions import FNV_MOD, rolling_hash

    docs = load_tables(spark, sf_dir)["documents"]
    # key the dir by applicationId too: two concurrent sessions on the
    # same fixture (bench sweep + pytest) must never overwrite a
    # round-trip directory the other is mid-read on. Per-app keying
    # would grow /tmp without bound (one documents copy per session,
    # nothing deleting them), so each call also (a) registers an
    # atexit removal of THIS app's subtree — deferred because the
    # returned DataFrame lazily re-reads the ORC dir — and (b) sweeps
    # sibling app dirs untouched for >1 day (dead sessions; a live
    # concurrent session's dir is hours old at most).
    app_dir = os.path.join(
        ORC_ROUNDTRIP_DIR, spark.sparkContext.applicationId
    )
    _orc_roundtrip_register_cleanup(app_dir)
    out_dir = os.path.join(app_dir, os.path.basename(sf_dir.rstrip("/")))
    docs.write.mode("overwrite").orc(out_dir)
    back = spark.read.orc(out_dir)
    h = rolling_hash(
        F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text"))
    ).cast("decimal(38,0)")
    return back.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count_distinct("doc_id").cast("long").alias("n_distinct_docs"),
        (F.sum(h) % F.lit(FNV_MOD).cast("decimal(38,0)"))
        .cast("long")
        .alias("content_checksum"),
    )


def orc_roundtrip_summary_sql() -> str:
    """Twin over the parquet view: identical fingerprint fold — equal
    output proves the ORC write/read preserved every compared value."""
    from .functions import FNV_MOD
    from .operators.oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="CAST(doc_id AS VARCHAR) || ':' || text")
    return f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_docs,
           CAST(sum(CAST(({h}) AS HUGEINT)) % {FNV_MOD} AS BIGINT)
               AS content_checksum
    FROM documents
    """
