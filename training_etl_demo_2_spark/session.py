"""SparkSession factory tuned for both local testing and cluster scale.

The reference creates its session via Glue
(``/root/reference/infra/scripts/demo-etl-2a-notebook.py:17-21``,
``process_tsv.py:20-24``) with zero tuning. Here we centralize the
session config that matters at 100 TB:

* **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting (word-frequency / groupBy keys are Zipfian: stopwords and
  hot custkeys are heavy).
* **Arrow on** — every Pandas-UDF path (similarity, multimodal) moves
  data executor<->Python in Arrow batches, not pickled rows.
* **Shuffle partition count** sized from the env: on ``local[N]`` a
  small fixed count avoids tiny-task overhead; on a real cluster AQE's
  ``advisoryPartitionSizeInBytes`` takes over and coalesces from the
  (purposely high) initial number.
* **Broadcast threshold** left at default (10 MB) — dimension tables
  (region/nation/supplier/part at TPC-H-ish ratios) stay broadcastable
  even at large SF; explicit ``F.broadcast`` hints are still placed at
  the query level so intent survives stats misestimates.
* **Codegen cache sized to the query working set** — Spark keeps the
  classes it compiles with Janino (whole-stage code, projections,
  predicates, orderings) in one least-recently-used cache per JVM of
  ``spark.sql.codegen.cache.maxEntries`` entries, 100 by default. A
  session that re-runs a fixed list of queries touches its classes in
  the same order every time, so once the list needs more than 100
  classes the default cache evicts each one just before it is needed
  again, and every run compiles everything afresh. Measured working
  sets: one pass of the benchmark's 11-query ``query_sweep`` touches
  ~133 classes (all recompiled on every later pass at 100 entries,
  none at ``CODEGEN_CACHE_MAX_ENTRIES``); first calls of the whole
  registry at sf0.001 compile ~7,300, a median of 14 per query and
  322 for ``kmeans_elbow_curve``. The setting is a *static* SQL conf:
  the cache is built once per JVM from the session that starts it, so
  it sits on the builder, and a later ``get_spark`` in the same process
  cannot change it. A vanilla session handed to
  ``__spark_entry__.entry(spark)`` by its caller keeps Spark's 100
  entries.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Entries of the per-JVM cache of generated classes (see the module
# docstring). Sized from one call each of the first 200 registry
# queries at sf0.001 (4-core host): 3,638 compiles at 100 entries,
# 2,723 at 1,000 and 2,562 at 8,192, with Metaspace after GC at 194,
# 202 and 215 MB. So 1,000 keeps most of the reuse a larger cache would
# find, for 8 MB of Metaspace.
CODEGEN_CACHE_MAX_ENTRIES = 1000


def get_spark(
    app_name: str = "training-etl-demo-2-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster, pass ``master=None`` with ``--master`` supplied by
    spark-submit; locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = DEFAULT_CPUS
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cpus))
        )

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    java_opts = os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode the ONE JVM holds driver + all executor threads;
        # Spark's 1g default heap OOMs real workloads. Measured here:
        # G1 (default) costs ~20-45% wall time on big heaps for this
        # short-task mix; ParallelGC at 24g is as fast as G1 at 1g with
        # 24x the headroom. Both are launch-time settings (pre-JVM).
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.extraJavaOptions", java_opts)
        # Adaptive execution: coalesce post-shuffle partitions, split skewed
        # joins at runtime. Critical for Zipfian keys (stopwords, hot orders).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow for all pandas UDF / toPandas paths (vectorized transfer).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read-side partition sizing: 128 MB splits keep task counts sane
        # at 100 TB (→ ~800k tasks, fine for a 1000-executor cluster).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Quieter, deterministic local runs.
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        .config("spark.sql.session.timeZone", "UTC")
        # The test fixtures carry a TIMESTAMP(NANOS) column (events.ts,
        # written by Arrow); Spark has no nanos type — read as long and
        # convert to micros at load (io.load_tables).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Static conf: compile each generated class once per JVM.
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES)
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes this JVM has compiled from generated code so far (in
    local mode this includes executor threads); a cache hit does not
    count."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


# ---------------------------------------------------------------------------
# shuffle-partition sizing (round 9)
# ---------------------------------------------------------------------------

# ON-DISK parquet bytes each shuffle partition should own. Small on
# purpose: snappy parquet of web-ish text compresses ~10-30x and the
# text families fan raw tokens out another ~10x through shingle /
# posting explodes, so 1 MiB on disk is ~100-300 MiB of in-flight
# working set — the standard per-partition shuffle target. The
# constant is anchored to a measurement, not a guess: the R=100
# replicated corpus over sf0.1 is ~450 MB of parquet, for which this
# rule yields 512 partitions — exactly the setting SCALING.md measured
# as the knee cure for tfidf_cosine_pairs (312.8 s at 32 partitions ->
# 96.4 s at 512, ratio vs 1x dropping to ~R^0.73) — while at bench
# scale (~17 MB) it stays at the 32-partition floor, avoiding the
# measured 1.8x blanket-high-default penalty. On a cluster whose scans
# are less explosive, raise bytes_per_partition; the encoded RULE
# (partitions ∝ input, floored at the core count) is the point.
SHUFFLE_SIZING_BYTES_PER_PARTITION = 1024 * 1024
SHUFFLE_SIZING_CAP = 16384


def sized_shuffle_partitions(
    n_input_bytes: int,
    base: int | None = None,
    bytes_per_partition: int = SHUFFLE_SIZING_BYTES_PER_PARTITION,
    cap: int = SHUFFLE_SIZING_CAP,
) -> int:
    """``spark.sql.shuffle.partitions`` sized to the DATA — the rule
    SCALING.md proves in numbers ("size it to the data, not set it
    high"): per-partition working sets must stay constant as the corpus
    grows, so the partition count grows with input bytes instead of
    staying at the local default while data grows two decades.

    Returns the power of two ≥ ``n_input_bytes / bytes_per_partition``,
    floored at ``base`` (the core count — fewer partitions than cores
    wastes the cluster) and capped at ``cap`` (a backstop against
    pathological inputs; at 100 TB the cap is deliberately above the
    ~800k-task scan so the SHUFFLE stages, which reduce, stay bounded).
    Power-of-two snapping keeps repeated runs on slightly-different
    inputs from thrashing between adjacent counts.
    """
    import math

    if base is None:
        base = DEFAULT_CPUS
    if n_input_bytes <= 0:
        return base
    raw = n_input_bytes / bytes_per_partition
    snapped = 2 ** math.ceil(math.log2(raw)) if raw > 1 else 1
    return int(min(cap, max(base, snapped)))


def dir_input_bytes(path: str) -> int:
    """Total bytes under ``path`` (an sf_dir of parquet tables) — the
    input-size estimate ``sized_shuffle_partitions`` consumes. On a
    real cluster the same number comes from the catalog / object-store
    listing; locally it is a directory walk."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total
