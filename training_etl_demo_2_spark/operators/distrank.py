"""Exact distributed global rank and prefix sums — the one definition of
how an operator ranks rows under a global order WITHOUT one giant
unpartitioned-window task.

Shape: range-repartition on the order columns (the one shuffle any
global sort pays), then per-partition ``row_number`` / running sums
inside whole-stage codegen, offset by per-partition COUNT/SUM aggregates
(P rows of partition METADATA collected to the driver — never data
rows). At 1000 executors the collect is ~thousands of integers.

Contract of :func:`with_global_order`: it returns
``(ranked, n_rows, totals)`` and never ``None``. ``ranked`` is the
input plus ``pid`` (its range partition), ``grank`` (exact 0-based
global rank, long) and one ``cum_<w>`` prefix sum per weight column;
``n_rows`` and ``totals[w]`` are Python ints from the same metadata, so
callers get "top N" / "X% of the total" bounds as plan literals. On an
empty input ``ranked`` is an empty relation with the same columns,
``n_rows == 0`` and every total 0, so downstream aggregates see exactly
what a single-window SQL twin sees.

The range-exchanged relation is persisted (:func:`cache.tracked_cache`):
the metadata collect and the rank pass must read the same partitions,
and RangePartitioner samples its bounds anew on every execution.
``cache_scope`` or the harness's ``clearCache`` releases it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from ..cache import tracked_cache


def idiv(col: Column, m: int) -> Column:
    """``col DIV m`` in exact long arithmetic (no double quotient)."""
    return F.call_function("div", col, F.lit(m))


def ntile(rank: Column, n: int, tiles: int) -> Column:
    """SQL ``ntile(tiles)`` of the row at 0-based ``rank`` among ``n``
    rows: the first ``n % tiles`` tiles take ``n // tiles + 1`` rows,
    the rest ``n // tiles``; with ``n < tiles`` row r is tile r + 1."""
    base, rem = divmod(n, tiles)
    if base == 0:
        return rank + 1
    cut = rem * (base + 1)
    return (
        F.when(rank < cut, idiv(rank, base + 1))
        .otherwise(rem + idiv(rank - cut, base))
        + 1
    )


def _per_pid(values: dict[int, int]) -> Column:
    """``values[pid]`` as a long column; the map literal is typed so it
    still resolves with zero entries (an empty input)."""
    m = F.create_map(*[F.lit(x) for p in sorted(values) for x in (p, values[p])])
    return m.cast("map<int,bigint>")[F.col("pid")]


def with_global_order(
    df: DataFrame,
    order_cols: list,
    weights: list[str] | tuple[str, ...] = (),
    inclusive: bool = False,
):
    """Rank ``df`` under ``order_cols`` and prefix-sum each column in
    ``weights`` (``cum_<w>``: EXCLUSIVE of the row itself, or INCLUSIVE
    with ``inclusive=True``). Returns ``(ranked, n_rows, totals)`` —
    see the module docstring for the contract."""
    nparts = max(1, df.sparkSession.sparkContext.defaultParallelism)
    ranged = df.repartitionByRange(nparts, *order_cols).withColumn(
        "pid", F.spark_partition_id()
    )
    ranged.transform(tracked_cache)
    # A partition's rank offset is the row count of the partitions
    # before it, as a weight's offset is their weight sum.
    stats = ranged.groupBy("pid").agg(
        F.count(F.lit(1)).alias("grank"),
        *[F.sum(c).cast("long").alias(c) for c in weights],
    )
    offsets = {c: {} for c in ["grank", *weights]}
    totals = dict.fromkeys(offsets, 0)
    for r in sorted(stats.collect(), key=lambda r: r["pid"]):
        for c in totals:
            offsets[c][r["pid"]] = totals[c]
            totals[c] += r[c] or 0
    w = Window.partitionBy("pid").orderBy(*order_cols)
    frame = w.rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    out = ranged.withColumn(
        "grank",
        (_per_pid(offsets["grank"]) + F.row_number().over(w) - 1).cast("long"),
    )
    for c in weights:
        running = F.coalesce(F.sum(c).over(frame).cast("long"), F.lit(0))
        out = out.withColumn(
            f"cum_{c}", (_per_pid(offsets[c]) + running).cast("long")
        )
    n_rows = totals.pop("grank")
    return out, n_rows, totals
