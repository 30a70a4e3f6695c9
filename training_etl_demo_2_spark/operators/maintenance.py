"""Table-maintenance planning operators (Delta OPTIMIZE-style).

A 100 TB table is not just queried — it is *maintained*: streaming
ingest leaves one small file per micro-batch per partition (the
"small-file problem"), and point-lookup-heavy tables want their rows
clustered on a space-filling curve so per-file min/max statistics
prune scans (Z-ORDER). Neither op exists in the 234-line reference
(it is a one-shot Glue demo, demo-etl-2a-notebook.py), but both are
table-stakes for the training-data lakehouse this engine targets.

Both planners are pure integer arithmetic end to end, so their DuckDB
twins match hash-for-hash with no float tolerance games.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from ..cache import tracked_cache
from . import distrank

# Compaction: micro-batch files are ~KBs; plan merge groups of ~64 KiB
# at fixture scale (the production knob is 128 MiB-1 GiB — the planner
# is scale-free, only the constant changes).
COMPACT_TARGET_BYTES = 65536
# Fixed per-row overhead for the byte estimate: event_id + ts +
# user_id + value (8 B each) - 4 B encoding discount.
ROW_FIXED_BYTES = 28

ZORDER_ROWS_PER_FILE = 1000
ZORDER_BITS = 16


def file_compaction_plan(
    t: dict[str, DataFrame], target_bytes: int = COMPACT_TARGET_BYTES
) -> DataFrame:
    """Small-file compaction plan for a micro-batch-ingested table.

    Simulates the file inventory a Structured Streaming sink leaves
    behind — one file per ingest hour (`epoch // 3600`) — then plans
    merge groups by NEXT-FIT BYTE-OFFSET BINNING: files are laid out
    in file_id order, and a file joins bin ``floor(offset / target)``
    where offset is the byte position its predecessors end at. A file
    straddling a bin boundary stays in the bin its offset starts in,
    so every bin reaches the target only through its last file's
    overhang — the standard "coalesce until you cross the target"
    compaction rule, expressed as a window cumsum instead of a
    sequential fold (unlike first-fit, offset binning is exactly
    parallel AND exactly SQL-expressible).

    Scale shape (100 TB): the groupBy collapses data rows to ONE ROW
    PER FILE before any window — the plan works on file metadata
    (10^6-10^7 rows for a 100 TB table), never on data rows. The
    unpartitioned cumsum window over that inventory is a single task
    over file metadata, the same driver-side listing cost every
    compaction planner (Delta OPTIMIZE, Iceberg rewrite_data_files)
    pays. Output: one row per planned merge group.
    """
    e = t["events"]
    row_bytes = (
        F.lit(ROW_FIXED_BYTES)
        + F.length("event_type")
        + F.coalesce(F.length("props"), F.lit(0))
    ).cast("long")
    inventory = (
        e.select(
            (F.unix_micros(F.col("ts")) / F.lit(3600_000_000))
            .cast("long")
            .alias("file_id"),
            row_bytes.alias("row_bytes"),
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("row_bytes").alias("file_bytes"),
        )
    )
    w = Window.orderBy("file_id").rowsBetween(Window.unboundedPreceding, -1)
    offset = F.coalesce(F.sum("file_bytes").over(w), F.lit(0))
    binned = inventory.withColumn(
        "bin_id", ((offset - offset % target_bytes) / target_bytes).cast("long")
    )
    return binned.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        F.sum("file_bytes").alias("total_bytes"),
        F.min("file_id").alias("min_file_id"),
        F.max("file_id").alias("max_file_id"),
    )


def file_compaction_plan_sql(target_bytes: int = COMPACT_TARGET_BYTES) -> str:
    """Twin of file_compaction_plan: same inventory, same offset
    binning — integer arithmetic throughout, so hashes match exactly."""
    return f"""
    WITH inv AS (
        SELECT CAST(floor(epoch_us(ts) / 3600000000.0) AS BIGINT) AS file_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum({ROW_FIXED_BYTES} + length(event_type)
                        + coalesce(length(props), 0)) AS BIGINT) AS file_bytes
        FROM events
        GROUP BY 1
    ),
    off AS (
        SELECT file_id, n_rows, file_bytes,
               coalesce(sum(file_bytes) OVER (
                   ORDER BY file_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS byte_offset
        FROM inv
    )
    SELECT CAST(floor(byte_offset / {target_bytes}.0) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(file_bytes) AS BIGINT) AS total_bytes,
           min(file_id) AS min_file_id,
           max(file_id) AS max_file_id
    FROM off
    GROUP BY 1
    """


def _interleave_bits(x, y, bits: int = ZORDER_BITS):
    """Morton/Z-order code: bit i of x lands at position 2i, bit i of
    y at 2i+1. Built as a SUM of disjoint shifted bits (positions never
    collide, so + == OR — and + is what DuckDB's integer ops mirror
    exactly). Inputs are masked to ``bits`` low bits first; production
    use hashes or range-buckets wider dimensions down to 16 bits, which
    preserves locality at file granularity."""
    mask = (1 << bits) - 1
    xm = x.bitwiseAND(F.lit(mask))
    ym = y.bitwiseAND(F.lit(mask))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(xm, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(
            F.shiftright(ym, i).bitwiseAND(F.lit(1)), 2 * i + 1
        )
    return z


def zorder_files(
    t: dict[str, DataFrame], rows_per_file: int = ZORDER_ROWS_PER_FILE
) -> DataFrame:
    """Z-ORDER clustering plan: sort lineitem on the Morton interleave
    of (l_partkey, l_suppkey), cut the sorted order into fixed-size
    files, and report each file's min/max on BOTH dimensions — the
    stats a scan planner prunes on. Z-ordering makes those min/max
    boxes tight in every interleaved dimension at once, where a plain
    sort is tight only in its leading key.

    The global file assignment is the exact distributed rank
    (``distrank.with_global_order``) on (z, tiebreak) — the range
    shuffle a global sort needs anyway, ranked in parallel per
    partition instead of through one giant window task — cut into
    files by exact integer division.
    At 100 TB this is exactly Delta's OPTIMIZE ZORDER BY shape:
    range-partition by curve value, write fixed-size files per range.
    """
    li = t["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zt = li.withColumn("z", _interleave_bits(F.col("l_partkey"), F.col("l_suppkey")))
    ranked, _n, _ = distrank.with_global_order(
        zt, [F.asc("z"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    )
    filed = ranked.withColumn(
        "file_id", distrank.idiv(F.col("grank"), rows_per_file)
    )
    return filed.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )


def zorder_files_sql(
    rows_per_file: int = ZORDER_ROWS_PER_FILE, bits: int = ZORDER_BITS
) -> str:
    """Twin of zorder_files: the same bit-interleave as a SQL sum of
    shifted bits, one row_number window for the file cut."""
    mask = (1 << bits) - 1
    terms = []
    # NB: DuckDB binds + tighter than <<, so every shift term is fully
    # parenthesized before joining with +.
    for i in range(bits):
        terms.append(f"((((l_partkey & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((l_suppkey & {mask}) >> {i}) & 1) << {2 * i + 1})")
    z_expr = " + ".join(terms)
    return f"""
    WITH zt AS (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               {z_expr} AS z
        FROM lineitem
    ),
    rn AS (
        SELECT l_partkey, l_suppkey,
               row_number() OVER (
                   ORDER BY z, l_orderkey, l_linenumber
               ) - 1 AS r
        FROM zt
    )
    SELECT CAST(floor(r / {rows_per_file}.0) AS BIGINT) AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_partkey) AS min_part,
           max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp,
           max(l_suppkey) AS max_supp
    FROM rn
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# striped shard balancing
# ---------------------------------------------------------------------------

SHARD_N = 8


def striped_shard_plan(
    docs: DataFrame, n_shards: int = SHARD_N
) -> DataFrame:
    """Token-balanced shard assignment by STRIPING: rank documents by
    token count (desc, doc_id tiebreak) and assign shard = rank mod S
    — the deterministic one-pass alternative to greedy LPT
    bin-packing whose imbalance is bounded by ONE maximal document
    per stripe round (greedy LPT needs a serial heap; striping is a
    rank + modulo, fully parallel, and append-reproducible).

    Output: one row per shard with doc/token totals and the shard's
    token share in basis points — the skew report a 100 TB training
    run reads before writing shards.

    Scale shape: the global ordering uses the distributed-rank helper
    (range repartition + per-partition row_number + metadata offsets
    — no single-task sort); everything after is a |S|-row aggregate.
    """
    sized = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    ranked, _n, totals = distrank.with_global_order(
        sized, [F.desc("n_tokens"), F.asc("doc_id")], weights=["n_tokens"]
    )
    tok_total = totals["n_tokens"]
    return (
        ranked.withColumn("shard", (F.col("grank") % n_shards).cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("tokens_sum"),
        )
        .select(
            "shard",
            "n_docs",
            "tokens_sum",
            (
                (
                    F.col("tokens_sum") * 10000
                    - (F.col("tokens_sum") * 10000) % F.lit(tok_total)
                )
                / F.lit(tok_total)
            )
            .cast("long")
            .alias("share_bp"),
        )
    )


def striped_shard_plan_sql(n_shards: int = SHARD_N) -> str:
    """Twin of striped_shard_plan: single-window rank oracle."""
    return f"""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT n_tokens,
               (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1)
                   % {n_shards} AS shard,
               CAST(sum(n_tokens) OVER () AS BIGINT) AS tok_total
        FROM sized
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_sum,
           CAST(sum(n_tokens) * 10000 // max(tok_total) AS BIGINT)
               AS share_bp
    FROM ranked
    GROUP BY 1
    """


# ---------------------------------------------------------------------------
# parquet encoding advisor: dictionary-encoding audit
# ---------------------------------------------------------------------------

DICT_RATIO_MAX = 0.1  # recommend dictionary when distinct/rows below this
# (table, column) audit targets: the lake's string columns, spanning
# low-cardinality flags (dictionary wins) and a near-unique name column
# (dictionary loses) so the advisor exercises both verdicts
DICT_AUDIT_COLS = (
    ("lineitem", "l_returnflag"),
    ("lineitem", "l_linestatus"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
    ("customer", "c_name"),
)


def dictionary_encode_audit(t: dict[str, DataFrame]) -> DataFrame:
    """Encoding advisor for the lake's string columns — the physical-
    layout planning step next to ``file_compaction_plan`` / ``zorder_
    files``: for each audited column, the exact cardinality ratio and
    average width that decide whether parquet dictionary encoding pays
    (ratio below ``DICT_RATIO_MAX``) or will blow the dictionary-page
    budget and silently fall back to plain encoding at write time.

    Exactness: counts, exact distinct counts, and byte lengths are
    integers; the two reported ratios divide once, rounded to 6/2.

    Scale shape: one exact count_distinct aggregate per column (the
    expensive-but-oracle tier — the HLL sketch tier is the registered
    approx path for profiles); each audit is a single scan +
    aggregate of its own table, unioned into a fixed
    ``len(DICT_AUDIT_COLS)``-row report. Output: one row per column.
    """
    outs = []
    for tbl, col in DICT_AUDIT_COLS:
        outs.append(
            t[tbl].agg(
                F.lit(tbl).alias("table_name"),
                F.lit(col).alias("column_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count_distinct(col).cast("long").alias("n_distinct"),
                F.sum(F.length(col)).cast("long").alias("total_bytes"),
            )
        )
    rep = outs[0]
    for o in outs[1:]:
        rep = rep.unionByName(o)
    # try_divide: a 0-row table gives NULL ratios, as in the twin
    n_rows = F.col("n_rows").cast("double")
    ratio = F.try_divide(F.col("n_distinct").cast("double"), n_rows)
    return rep.select(
        "table_name",
        "column_name",
        "n_rows",
        "n_distinct",
        F.round(ratio, 6).alias("distinct_ratio_r6"),
        F.round(
            F.try_divide(F.col("total_bytes").cast("double"), n_rows), 2
        ).alias("avg_len_r2"),
        (ratio < DICT_RATIO_MAX).cast("int").alias("dict_recommended"),
    ).orderBy("table_name", "column_name")


def dictionary_encode_audit_sql() -> str:
    """Twin of dictionary_encode_audit: same exact per-column stats."""
    arms = "\n    UNION ALL ".join(
        f"""SELECT '{tbl}' AS table_name, '{col}' AS column_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct,
               CAST(sum(length({col})) AS BIGINT) AS total_bytes
        FROM {tbl}"""
        for tbl, col in DICT_AUDIT_COLS
    )
    return f"""
    WITH rep AS (
        {arms}
    )
    SELECT table_name, column_name, n_rows, n_distinct,
           round(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
               AS distinct_ratio_r6,
           round(CAST(total_bytes AS DOUBLE) / CAST(n_rows AS DOUBLE), 2)
               AS avg_len_r2,
           CAST(CAST(n_distinct AS DOUBLE) / CAST(n_rows AS DOUBLE)
                < {DICT_RATIO_MAX!r} AS INT) AS dict_recommended
    FROM rep
    ORDER BY table_name, column_name
    """


# ---------------------------------------------------------------------------
# broadcast-join advisor
# ---------------------------------------------------------------------------

BROADCAST_MAX_BYTES = 10 * 1024 * 1024  # Spark's autoBroadcastJoinThreshold
# per-table in-memory row-size model: 8 bytes per numeric/timestamp
# column + string lengths, + Tungsten row overhead
BROADCAST_ROW_OVERHEAD = 16
BROADCAST_TABLES = (
    ("region", 8, ("r_name",)),
    ("nation", 16, ("n_name",)),
    ("supplier", 16, ("s_name",)),
    ("part", 16, ("p_name", "p_brand", "p_type")),
    ("customer", 16, ("c_name", "c_mktsegment")),
    ("orders", 24, ("o_orderstatus", "o_orderpriority")),
)


def broadcast_plan_advisor(t: dict[str, DataFrame]) -> DataFrame:
    """Join-planning advisor: per table, the exact row count and a
    deterministic in-memory size estimate (fixed numeric width +
    measured string bytes + row overhead), with the verdict Catalyst
    would reach against ``spark.sql.autoBroadcastJoinThreshold`` —
    the table a query author checks before forcing ``broadcast()`` or
    bucketing a join. At 100 TB the dims stay broadcastable (region/
    nation are fixed; part/supplier grow ~linearly but stay orders of
    magnitude under the facts) and the advisor's output IS the join
    strategy map for the star schema.

    Exactness: counts and byte sums are exact integers; the estimate
    is integer arithmetic end-to-end.

    Scale shape: one scan + aggregate per audited table (6 fixed
    rows out). Output: one row per table.
    """
    outs = []
    for tbl, fixed, strcols in BROADCAST_TABLES:
        strbytes = (
            sum((F.sum(F.length(c)).cast("long") for c in strcols[1:]),
                F.sum(F.length(strcols[0])).cast("long"))
            if strcols
            else F.lit(0).cast("long")
        )
        outs.append(
            t[tbl].agg(
                F.lit(tbl).alias("table_name"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                (
                    F.count(F.lit(1)) * (fixed + BROADCAST_ROW_OVERHEAD)
                    + F.coalesce(strbytes, F.lit(0))
                )
                .cast("long")
                .alias("est_bytes"),
            )
        )
    rep = outs[0]
    for o in outs[1:]:
        rep = rep.unionByName(o)
    return rep.select(
        "table_name",
        "n_rows",
        "est_bytes",
        (F.col("est_bytes") <= BROADCAST_MAX_BYTES)
        .cast("int")
        .alias("broadcastable"),
    ).orderBy("table_name")


def broadcast_plan_advisor_sql() -> str:
    """Twin of broadcast_plan_advisor: identical byte model."""
    arms = []
    for tbl, fixed, strcols in BROADCAST_TABLES:
        sb = (
            " + ".join(f"sum(length({c}))" for c in strcols)
            if strcols
            else "0"
        )
        arms.append(
            f"""SELECT '{tbl}' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count(*) * {fixed + BROADCAST_ROW_OVERHEAD}
                    + coalesce({sb}, 0) AS BIGINT) AS est_bytes
        FROM {tbl}"""
        )
    body = "\n    UNION ALL ".join(arms)
    return f"""
    WITH rep AS (
        {body}
    )
    SELECT table_name, n_rows, est_bytes,
           CAST(est_bytes <= {BROADCAST_MAX_BYTES} AS INT) AS broadcastable
    FROM rep
    ORDER BY table_name
    """


# ---------------------------------------------------------------------------
# partition-key advisor
# ---------------------------------------------------------------------------

PARTITION_KEY_CANDIDATES = (
    "l_returnflag",
    "l_linestatus",
    "l_shipmonth",
    "l_shipdate",
)


def partition_key_advisor(t: dict[str, DataFrame]) -> DataFrame:
    """Which column should partition the 100 TB table? For each
    candidate key this scores the two things that decide it BEFORE any
    data is rewritten:

    * ``expected_scan_frac`` = Σ_v (n_v/n)² — the fraction of the table
      an equality-predicate query scans in expectation when queries
      arrive proportionally to the data (partition pruning's payoff;
      1.0 = useless key, 1/k = perfectly balanced k-way key);
    * ``n_partitions`` and ``max_share`` — the operational bounds: too
      many partitions (small files, listing cost) or one dominant
      partition (skew) disqualify a key even when pruning looks good.

    Derived date keys matter most in practice, so the month-truncated
    ship date competes beside the raw date (the raw date's thousands of
    partitions is exactly the small-files trap this advisor exposes).

    Exactness: shares are exact-integer counts; the two ratios divide
    decimal(38,0)-summed squares once, then round(6).

    Scale shape: one groupBy PER candidate (map-side partials), each
    collapsing to candidate-cardinality metadata, then a one-row fold
    per candidate unioned — cost is |candidates| scans (or one pass
    with grouping sets if the scan dominates; at 100 TB candidates are
    audited on a sampled slab anyway). Output: one row per candidate.
    """
    li = t["lineitem"].select(
        "l_returnflag",
        "l_linestatus",
        F.date_format(F.col("l_shipdate"), "yyyy-MM").alias("l_shipmonth"),
        F.col("l_shipdate").cast("string").alias("l_shipdate"),
    )
    outs = []
    for key in PARTITION_KEY_CANDIDATES:
        per = li.groupBy(F.col(key).alias("v")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        outs.append(
            per.agg(
                F.lit(key).alias("candidate"),
                F.count(F.lit(1)).cast("long").alias("n_partitions"),
                F.sum("c").cast("long").alias("n_rows"),
                F.max("c").cast("long").alias("max_rows"),
                F.round(
                    F.max("c").cast("double") / F.sum("c"), 6
                ).alias("max_share"),
                F.round(
                    F.sum((F.col("c") * F.col("c")).cast("decimal(38,0)"))
                    .cast("double")
                    # n² in DOUBLE, not BIGINT: at 1e12 rows the integer
                    # square overflows but the double is exact enough
                    / (F.sum("c").cast("double") * F.sum("c").cast("double")),
                    6,
                ).alias("expected_scan_frac"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def partition_key_advisor_sql() -> str:
    """Twin: identical per-candidate folds unioned."""
    parts = []
    for key in PARTITION_KEY_CANDIDATES:
        if key == "l_shipmonth":
            expr = "strftime(l_shipdate, '%Y-%m')"
        elif key == "l_shipdate":
            expr = "CAST(l_shipdate AS VARCHAR)"
        else:
            expr = key
        parts.append(
            f"""
    SELECT '{key}' AS candidate,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(max(c) AS BIGINT) AS max_rows,
           round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS max_share,
           round(CAST(sum(CAST(c AS HUGEINT) * c) AS DOUBLE)
                 / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6)
               AS expected_scan_frac
    FROM (SELECT {expr} AS v, CAST(count(*) AS BIGINT) AS c
          FROM lineitem GROUP BY 1)"""
        )
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# layout skipping audit: natural vs sorted vs z-order, measured
# ---------------------------------------------------------------------------

SKIP_N_PREDS = 4  # equality-width range predicates per dimension


def layout_skipping_audit(
    t: dict[str, DataFrame], rows_per_file: int = ZORDER_ROWS_PER_FILE
) -> DataFrame:
    """WHY z-order, measured: cut lineitem into fixed-size files under
    three layouts — natural (write order), sorted on l_partkey, and the
    Morton interleave of (l_partkey, l_suppkey) — compute each file's
    min/max stats, and replay a grid of range predicates on BOTH
    dimensions against those stats. The skipped-file fraction per
    (layout, predicate dimension) is the number a lakehouse OPTIMIZE
    decision is made on: natural skips nothing, single-key sort skips
    only its own key, z-order skips usefully on both.

    Exactness: file cuts use the exact distributed rank
    (``distrank.with_global_order``, as in zorder_files); predicate bounds derive from the integer key domain
    (width = (max+1) DIV (2·n_preds)); a file is hit iff its [min,max]
    box overlaps the range — all integer comparisons; the skipped
    fraction is an exact basis-point integer.

    Scale shape: one range-repartition + per-partition rank per layout
    (the global-sort shuffle OPTIMIZE pays anyway), file-cardinality
    stat relations, and a stats × |preds| metadata grid. Output: one
    row per (layout, pred_dim).
    """
    li = t["lineitem"].select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    zt = li.withColumn("z", _interleave_bits(F.col("l_partkey"), F.col("l_suppkey")))
    layouts = {
        "natural": [F.asc("l_orderkey"), F.asc("l_linenumber")],
        "sorted_partkey": [
            F.asc("l_partkey"),
            F.asc("l_orderkey"),
            F.asc("l_linenumber"),
        ],
        "zorder": [F.asc("z"), F.asc("l_orderkey"), F.asc("l_linenumber")],
    }
    # persist (r11): the 1-row domain relation is crossJoined into all
    # six (layout, dim) arms — without the barrier each arm re-runs the
    # full-table max scan (up to 6 corpus scans for one row of
    # metadata; broadcast-exchange reuse recovers some arms, the cache
    # guarantees ONE). Same-session A/B: neutral at sf0.1 (5.98 vs
    # 5.85 s, within spread — plans/r11_ab_layout_arms.json); kept for
    # the strictly-fewer-corpus-scans shape at 100 TB (1-row persist,
    # no memory cost).
    doms = tracked_cache(
        zt.agg(
            F.max("l_partkey").cast("long").alias("max_part"),
            F.max("l_suppkey").cast("long").alias("max_supp"),
        )
    )

    def _file_stats(order_cols) -> DataFrame:
        ranked, _n, _ = distrank.with_global_order(zt, order_cols)
        filed = ranked.withColumn(
            "file_id", distrank.idiv(F.col("grank"), rows_per_file)
        )
        # NOT persisted (r11 negative result): both predicate-dimension
        # arms consume this relation, but a persist barrier measured
        # 6.61 vs 5.85 s median in a 3-arm same-session A/B
        # (plans/r11_ab_layout_arms.json) — the window pass it saves is
        # cheaper than the materialization it adds (the `ranged` cache
        # above already absorbs the range shuffle).
        return filed.groupBy("file_id").agg(
            F.min("l_partkey").alias("min_part"),
            F.max("l_partkey").alias("max_part_f"),
            F.min("l_suppkey").alias("min_supp"),
            F.max("l_suppkey").alias("max_supp_f"),
        )

    preds = F.explode(
        F.sequence(F.lit(0), F.lit(SKIP_N_PREDS - 1))
    ).alias("k")
    outs = []
    for name, order_cols in layouts.items():
        stats = _file_stats(order_cols)
        for dim, lo_c, hi_c, dom in (
            ("l_partkey", "min_part", "max_part_f", "max_part"),
            ("l_suppkey", "min_supp", "max_supp_f", "max_supp"),
        ):
            grid = (
                stats.crossJoin(F.broadcast(doms.select(preds, F.col(dom))))
                .withColumn(
                    "w",
                    F.expr(f"CAST(({dom} + 1) DIV {2 * SKIP_N_PREDS} AS BIGINT)"),
                )
                .withColumn("lo", F.col("k") * F.col("w"))
                .withColumn("hi", (F.col("k") + 1) * F.col("w") - 1)
            )
            hit = ~(
                (F.col(hi_c) < F.col("lo")) | (F.col(lo_c) > F.col("hi"))
            )
            outs.append(
                grid.agg(
                    F.lit(name).alias("layout"),
                    F.lit(dim).alias("pred_dim"),
                    F.count_distinct(F.col("file_id")).cast("long").alias(
                        "n_files"
                    ),
                    F.sum(hit.cast("long")).cast("long").alias("files_hit"),
                    F.expr(
                        "CAST((count(*) - sum(CAST((NOT ("
                        f"{hi_c} < lo OR {lo_c} > hi)) AS BIGINT))) * 10000"
                        " DIV count(*) AS BIGINT)"
                    ).alias("skipped_bp"),
                )
            )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def layout_skipping_audit_sql(
    rows_per_file: int = ZORDER_ROWS_PER_FILE, bits: int = ZORDER_BITS
) -> str:
    """Twin: identical file cuts (row_number windows), stat boxes,
    predicate grids, and overlap test per layout."""
    mask = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"((((l_partkey & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((l_suppkey & {mask}) >> {i}) & 1) << {2 * i + 1})")
    z_expr = " + ".join(terms)
    orders = {
        "natural": "l_orderkey, l_linenumber",
        "sorted_partkey": "l_partkey, l_orderkey, l_linenumber",
        "zorder": "z, l_orderkey, l_linenumber",
    }
    arms = []
    for name, order in orders.items():
        for dim, lo_c, hi_c, dom in (
            ("l_partkey", "min_part", "max_part_f", "max_part"),
            ("l_suppkey", "min_supp", "max_supp_f", "max_supp"),
        ):
            arms.append(
                f"""
    SELECT '{name}' AS layout, '{dim}' AS pred_dim,
           CAST(count(DISTINCT file_id) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN NOT ({hi_c} < lo OR {lo_c} > hi)
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_hit,
           CAST((count(*) - sum(CASE WHEN NOT ({hi_c} < lo OR {lo_c} > hi)
                    THEN 1 ELSE 0 END)) * 10000 // count(*) AS BIGINT)
               AS skipped_bp
    FROM (
        SELECT s.*, k, ((d.{dom} + 1) // {2 * SKIP_N_PREDS}) * k AS lo,
               ((d.{dom} + 1) // {2 * SKIP_N_PREDS}) * (k + 1) - 1 AS hi
        FROM stats_{name} s
        CROSS JOIN doms d
        CROSS JOIN unnest(range(0, {SKIP_N_PREDS})) AS t(k)
    )"""
            )
    stat_ctes = ",\n    ".join(
        f"""stats_{name} AS MATERIALIZED (
        SELECT file_id,
               min(l_partkey) AS min_part, max(l_partkey) AS max_part_f,
               min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp_f
        FROM (
            SELECT l_partkey, l_suppkey,
                   (row_number() OVER (ORDER BY {order}) - 1)
                       // {rows_per_file} AS file_id
            FROM zt
        ) GROUP BY file_id
    )"""
        for name, order in orders.items()
    )
    joined = " UNION ALL ".join(arms)
    return f"""
    WITH zt AS MATERIALIZED (
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               {z_expr} AS z
        FROM lineitem
    ),
    doms AS (
        SELECT CAST(max(l_partkey) AS BIGINT) AS max_part,
               CAST(max(l_suppkey) AS BIGINT) AS max_supp
        FROM zt
    ),
    {stat_ctes}
    {joined}
    """


# ---------------------------------------------------------------------------
# delete-propagation (right-to-be-forgotten) rewrite plan
# ---------------------------------------------------------------------------

FORGET_USER_MOD = 1000
FORGET_USER_RESIDUE = 7
FORGET_ROWS_PER_FILE = 1000
FORGET_BUCKETS = 64


def forget_user_rewrite_plan(
    t: dict[str, DataFrame],
    rows_per_file: int = FORGET_ROWS_PER_FILE,
) -> DataFrame:
    """What does a GDPR erasure actually COST: copy-on-write tables
    delete by rewriting every file that contains any target row, so the
    price is rewrite amplification — rows rewritten per row deleted.
    This plan measures it for a deterministic forget-set (user_id ≡ 7
    mod 1000) under two physical layouts of the events table: natural
    (arrival order — target rows smeared across every file) and
    user-clustered (order by user bucket — each user's rows contiguous,
    deletes touch few files). The delta between the two amplification
    numbers is the case for clustering on the erasure key BEFORE the
    first deletion request arrives, not after.

    Exactness: file cuts use the exact distributed rank
    (``distrank.with_global_order``, as in zorder_files); every count and the amplification basis points are
    exact integers.

    Scale shape: one range-repartition + per-partition rank per layout,
    one file-level aggregate, a one-row fold each. Output: one row per
    layout — (layout, n_files, files_touched, rows_deleted,
    rows_rewritten, amplification_bp).
    """
    ev = t["events"].select(
        "event_id",
        "user_id",
        (F.col("user_id") % FORGET_USER_MOD == FORGET_USER_RESIDUE).alias(
            "target"
        ),
        (F.col("user_id") % FORGET_BUCKETS).alias("bucket"),
    )
    layouts = {
        "natural": [F.asc("event_id")],
        "user_clustered": [F.asc("bucket"), F.asc("event_id")],
    }
    outs = []
    for name, order_cols in layouts.items():
        ranked, _n, _ = distrank.with_global_order(ev, order_cols)
        filed = ranked.withColumn(
            "file_id", distrank.idiv(F.col("grank"), rows_per_file)
        )
        per_file = filed.groupBy("file_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("target").cast("long")).cast("long").alias("n_del"),
        )
        outs.append(
            per_file.agg(
                F.lit(name).alias("layout"),
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum((F.col("n_del") > 0).cast("long"))
                .cast("long")
                .alias("files_touched"),
                F.sum("n_del").cast("long").alias("rows_deleted"),
                F.sum(
                    F.when(F.col("n_del") > 0, F.col("n_rows") - F.col("n_del"))
                    .otherwise(0)
                )
                .cast("long")
                .alias("rows_rewritten"),
                F.expr(
                    "CAST(sum(CASE WHEN n_del > 0 THEN n_rows - n_del"
                    " ELSE 0 END) * 10000 DIV sum(n_del) AS BIGINT)"
                ).alias("amplification_bp"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


def forget_user_rewrite_plan_sql(
    rows_per_file: int = FORGET_ROWS_PER_FILE,
) -> str:
    """Twin: identical file cuts (row_number windows) and folds."""
    arms = []
    for name, order in (
        ("natural", "event_id"),
        ("user_clustered", "user_id % 64, event_id"),
    ):
        arms.append(
            f"""
    SELECT '{name}' AS layout,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS files_touched,
           CAST(sum(n_del) AS BIGINT) AS rows_deleted,
           CAST(sum(CASE WHEN n_del > 0 THEN n_rows - n_del ELSE 0 END)
               AS BIGINT) AS rows_rewritten,
           CAST(sum(CASE WHEN n_del > 0 THEN n_rows - n_del ELSE 0 END)
               * 10000 // sum(n_del) AS BIGINT) AS amplification_bp
    FROM (
        SELECT file_id,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN user_id % {FORGET_USER_MOD}
                        = {FORGET_USER_RESIDUE} THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_del
        FROM (
            SELECT user_id,
                   (row_number() OVER (ORDER BY {order}) - 1)
                       // {rows_per_file} AS file_id
            FROM events
        ) GROUP BY file_id
    )"""
        )
    return " UNION ALL ".join(arms)


# (table, key columns) — the identity spine of each fixture table; the
# manifest checksums ROW IDENTITY (not payload bytes), so float
# formatting differences can never enter the cross-engine fold
MANIFEST_KEYS = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def dataset_manifest(t: dict[str, DataFrame]) -> DataFrame:
    """Content-addressed DATASET VERSION: one row per table with its
    row count and an order-free checksum of the key spine — the
    reproducibility artifact a training run records next to its config
    ("which exact dataset did this model see?"). Two snapshots with
    equal manifests have identical row identity; any insert, delete or
    key rewrite moves the checksum. Payload columns are deliberately
    excluded (float formatting is engine-dependent); pair with
    `orders_snapshot_diff` / `mv_incremental_update` for payload-level
    drift.

    Checksum: Σ rolling_hash('tbl:' || key parts) accumulated in
    decimal(38,0) (a 10¹²-row table at 100 TB overflows int64 —
    HUGEINT on the twin), reduced mod P at the end; sum is
    commutative, so the result is partition-order-free on any cluster
    layout.

    Scale shape: one narrow projection + ONE partial-aggregable sum
    per table — the cheapest full-scan audit there is; output 10 rows.
    """
    from ..functions import FNV_MOD, rolling_hash

    arms = []
    for name, keys in MANIFEST_KEYS:
        key_str = F.concat_ws(
            ":", F.lit(name), *[F.col(k).cast("string") for k in keys]
        )
        h = rolling_hash(key_str).cast("decimal(38,0)")
        arms.append(
            t[name].agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                (F.sum(h) % F.lit(FNV_MOD).cast("decimal(38,0)"))
                .cast("long")
                .alias("key_checksum"),
            ).select(
                F.lit(name).alias("table_name"), "n_rows", "key_checksum"
            )
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.orderBy("table_name")


def dataset_manifest_sql() -> str:
    """Twin: same 'tbl:key' rolling hash, HUGEINT sum, same mod."""
    from ..functions import FNV_MOD
    from .oracle import ROLLING_HASH

    arms = []
    for name, keys in MANIFEST_KEYS:
        parts = " || ':' || ".join(
            f"CAST({k} AS VARCHAR)" for k in keys
        )
        h = ROLLING_HASH.format(s=f"'{name}:' || {parts}")
        arms.append(
            f"""
    SELECT '{name}' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(({h}) AS HUGEINT)) % {FNV_MOD} AS BIGINT)
               AS key_checksum
    FROM {name}"""
        )
    union = "\n    UNION ALL".join(arms)
    return f"""
    {union}
    ORDER BY table_name
    """
