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
* **C2 thresholds raised tenfold** — HotSpot compiles a hot method
  first with C1 and then, once it crosses the tier-4 thresholds (JDK
  17: 5,000 invocations, or 600 invocations and 15,000 invocations plus
  loop back-edges, or 40,000 back-edges in one frame), again with the
  optimizing C2. A session of short queries pushes many planner, py4j
  and generated-class methods just past those counts,
  and most of them then run only a handful more times, so C2's work is
  never paid back. Per-thread CPU of the JVM over five passes of the
  benchmark's 11 ``query_sweep`` queries at sf0.001 (4 cores, a fixed
  number of compiler threads, two sessions per arm): at the default
  thresholds the first pass spent 24.5-26.0 s in C2 threads and
  4.3-4.7 s in C1 threads out of 43.1-46.4 s, passes 2-5 spent
  2.9-6.9 s in C2 out of 6.3-12.1 s; at ``C2_THRESHOLDS`` (all four
  times 10) C2 took 6.9-8.0 s of a 25.0-28.6 s first pass and 1.0-2.7 s
  of 5.3-9.1 s later, while C1 and GC stayed the same. Sized with
  perfbench (``--seconds 1``) on a 4-core host, seeds 11-15, the arms
  of one seed back to back in rotating order, every run correct with
  0 failed; medians of ``first_pass_cpu_s`` / ``pass_cpu_s`` in
  seconds:

  ========  ====================  ====================
  arm       ``query_sweep``       ``reference_etl``
  ========  ====================  ====================
  default   32.7 / 5.45           15.9 / 2.76
  x3        28.8 / 5.35           16.0 / 2.41
  x10       23.9 / 4.69           11.7 / 2.44
  x30       20.9 / 4.95           12.6 / 2.49
  ========  ====================  ====================

  x30 saves more of the first ``query_sweep`` pass but leaves later
  passes and both ``reference_etl`` figures worse than x10; peak RSS,
  set-up and the operation tail stayed within noise. The saving is
  CPU, not latency: code runs longer in C1 before C2 takes it, and on
  4 cores the compiler threads had run on otherwise idle cores, so
  perfbench's ungated wall time of a later pass rose from 3.80 to
  4.37 s on ``query_sweep`` and from 1.36 to 1.50 s on
  ``reference_etl`` (medians of 10 pairs; x3 left it at 3.87 s), and
  passes 2-5 of the per-thread runs took 6.8-10.9 s against 3.8-8.4 s
  of wall time. Rejected: C1 only (``-XX:TieredStopAtLevel=1``) halves
  the first pass but makes ``reference_etl``'s later passes 37 % dearer
  in CPU (3.90 / 3.70 s against 2.85 / 2.65 s). The flags are
  launch-time JVM options, placed before
  ``SPARK_GRAFT_JAVA_OPTS`` so a flag repeated there wins. A vanilla
  session handed to ``__spark_entry__.entry(spark)`` keeps HotSpot's
  defaults, and executors of a real cluster
  (``spark.executor.extraJavaOptions``) are not tuned: no cluster
  traffic was measured.
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

# HotSpot's tier-4 (C2) compile thresholds for the driver JVM: JDK 17's
# defaults (5000 / 600 / 15000 / 40000) times 10, sized by the A/B in
# the module docstring.
C2_THRESHOLDS = {
    "Tier4InvocationThreshold": 50000,
    "Tier4MinInvocationThreshold": 6000,
    "Tier4CompileThreshold": 150000,
    "Tier4BackEdgeThreshold": 400000,
}


def default_driver_mem(mem_total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` when ``SPARK_GRAFT_DRIVER_MEM`` is unset:
    half of the host's physical memory, at most 24g. Under ParallelGC the
    JVM's RSS climbs toward the heap ceiling over a long session (10 to
    14 GB under the test suite with a 24g ceiling), so a ceiling above
    physical memory ends in the kernel's OOM killer, not in a Java
    OutOfMemoryError."""
    if mem_total_bytes is None:
        mem_total_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(24 * 1024, mem_total_bytes // (2 * 1024 * 1024))}m"


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
        shuffle_partitions = cpus

    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", default_driver_mem())
    # The C2 thresholds go first: a flag repeated in the env options wins.
    java_opts = " ".join(
        [f"-XX:{flag}={n}" for flag, n in C2_THRESHOLDS.items()]
        + [os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC")]
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # In local mode the ONE JVM holds driver + all executor threads;
        # Spark's 1g default heap OOMs real workloads. Measured here:
        # G1 (default) costs ~20-45% wall time on big heaps for this
        # short-task mix; ParallelGC at 24g is as fast as G1 at 1g with
        # 24x the headroom. Both, and the C2 thresholds, are launch-time
        # settings (pre-JVM).
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


def jit_ms(spark: SparkSession) -> int:
    """Milliseconds this JVM's HotSpot compilers (C1 and C2, every
    compiler thread) have spent compiling so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return int(mf.getCompilationMXBean().getTotalCompilationTime())


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
