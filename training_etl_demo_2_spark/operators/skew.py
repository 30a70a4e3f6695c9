"""Skew-resistant join: the salted-replication template, generalized.

AQE's skew-join splitting (on in ``session.py``) handles sort-merge
skew at runtime by splitting oversized partitions, and it is the right
FIRST answer. Salting remains necessary when (a) the skewed side feeds
a non-splittable plan (e.g. a bucketed/co-located join AQE won't touch),
(b) the hot keys are known a priori and the dimension side is too big
to broadcast whole but its hot slice is not, or (c) deterministic plan
shape matters more than adaptivity (benchmark reproducibility).

``skew_join`` implements the classic two-path plan:

* **hot keys** (counted exactly, or caller-supplied):
  fact rows get a random-ish but DETERMINISTIC salt in [0, buckets);
  the dim side's hot rows are replicated ``buckets`` times; the join
  key becomes (key, salt) — each hot key's rows spread over ``buckets``
  reducers instead of one straggler.
* **cold keys** join normally (salt 0 on both sides — same plan, no
  replication).

The result is exactly ``fact ⋈ dim`` for any 1:N equi-join. Dim-side
replication is hot-keys-only, so the blow-up is |hot| × buckets rows,
not |dim| × buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 16
# Hot-key detection: keys holding more than this fraction of the
# counted rows are salted. 1/buckets is the natural threshold — beyond
# it a key overflows its "fair share" of one reducer.
HOT_FRACTION = 1.0 / 32.0


def detect_hot_keys(
    df: DataFrame, key: str, hot_fraction: float = HOT_FRACTION
) -> list:
    """Keys holding ≥ ``hot_fraction`` of ``df``'s rows.

    An EXACT per-key count: one map-side-combined shuffle of |distinct
    keys| rows — the same cost class as the join being planned, and
    immune to storage order (a prefix ``limit`` sample, the round-2
    version, hides hot keys clustered late in file order — e.g. a
    newly-hot key in time-ordered ingest). The threshold is computed
    against the ACTUAL counted total, never a requested sample size, so
    small tables don't silently raise the bar. ONE action: the counts
    are filtered against a broadcast one-row total (the part_affinity
    pattern), so the driver collects only the hot keys."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    hot = (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("c") >= F.col("total") * F.lit(hot_fraction))
        .select(key)
        .collect()
    )
    return [r[0] for r in hot if r[0] is not None]


def skew_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    how: str = "inner",
    buckets: int = DEFAULT_BUCKETS,
    hot_keys: list | None = None,
) -> DataFrame:
    """Equi-join ``fact ⋈ dim`` on ``key`` with hot-key salting.

    ``dim`` must be key-unique (a dimension); ``how`` supports inner /
    left. Hot keys: caller-supplied, else counted on the fact side
    (:func:`detect_hot_keys`). With no hot keys this degenerates to the
    plain join (zero overhead)."""
    if how not in ("inner", "left"):
        raise ValueError(f"skew_join supports inner/left, got {how!r}")
    if hot_keys is None:
        hot_keys = detect_hot_keys(fact, key)
    if not hot_keys:
        return fact.join(dim, key, how)

    hot_arr = F.array(*[F.lit(k) for k in hot_keys])
    is_hot = F.array_contains(hot_arr, F.col(key))

    # Fact side: hot rows get salt = pmod(xxhash64(whole row), b) —
    # derived from ROW CONTENT, so it is stable across runs, partition
    # layouts, and stage retries. A nondeterministic salt (e.g. from
    # monotonically_increasing_id) feeding the join shuffle is the
    # classic lost/duplicated-rows hazard when a map stage is recomputed
    # (SPARK-23207 class). Trade-off: byte-identical duplicate rows of a
    # hot key share a salt; a hot key made of ONE repeated row would
    # still skew — real fact tables carry a unique id column, which the
    # hash covers.
    f = fact.withColumn(
        "__salt",
        F.when(
            is_hot,
            F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(buckets)),
        ).otherwise(F.lit(0)).cast("int"),
    )

    # Dim side: replicate hot rows across every salt, cold rows salt 0.
    d = dim.withColumn(
        "__salts",
        F.when(
            is_hot, F.sequence(F.lit(0), F.lit(buckets - 1))
        ).otherwise(F.array(F.lit(0))),
    ).withColumn("__salt", F.explode("__salts")).drop("__salts")

    return f.join(d, [key, "__salt"], how).drop("__salt")


# ---------------------------------------------------------------------------
# registered query: skewed events ⋈ user dimension
# ---------------------------------------------------------------------------


def skewed_user_revenue(t: dict[str, DataFrame]) -> DataFrame:
    """Join the (Zipf-skewed) events fact to a derived user dimension
    with explicit hot-key salting, then aggregate — result identical to
    the plain join, which is exactly what the oracle checks.

    The user dim is derived deterministically from customers (user_id =
    c_custkey % 1000 tiers), so the query is closed over the fixtures."""
    events = t["events"]
    users = (
        t["customer"]
        .select((F.col("c_custkey") % 1000).alias("user_id"), "c_mktsegment")
        .groupBy("user_id")
        .agg(F.min("c_mktsegment").alias("segment"))
    )
    # Hot keys pinned (not auto-detected) so the SALTED plan is the one
    # the oracle verifies at every scale factor — auto-detection on the
    # mildly-skewed fixture would legitimately fall back to a plain join.
    joined = skew_join(
        events, users, "user_id", how="inner", buckets=8,
        hot_keys=list(range(8)),
    )
    # exact integer ten-thousandths: accumulation-order-proof (the q7/t4
    # pattern — large groups make round(sum(double)) flip-prone)
    t4 = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.round(F.sum(t4) / 10000.0, 2).alias("sum_value"),
    )


SKEWED_USER_REVENUE_ORACLE = """
    WITH users AS (
        SELECT c_custkey % 1000 AS user_id, min(c_mktsegment) AS segment
        FROM customer GROUP BY c_custkey % 1000
    )
    SELECT segment, count(*) AS n_events,
           round(CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
                 / 10000.0, 2) AS sum_value
    FROM events JOIN users USING (user_id)
    GROUP BY segment
"""


SALT_FACTORS = (1, 2, 4, 8)


def salt_factor_curve(
    t: dict[str, DataFrame], factors: tuple[int, ...] = SALT_FACTORS
) -> DataFrame:
    """How much salt does the hot key need? For each candidate salt
    factor s, the word-frequency aggregation's reducer keys become
    (word, doc-hash % s); this curve reports the resulting MAX reducer
    load next to the total — the straggler bound the shuffle planner is
    actually sizing for. Read it as: salt 1 shows the raw hot-key skew;
    the factor where max_load stops halving is where the hot key is
    spread thin enough and extra salt only multiplies the second-stage
    merge.

    Output: one row per factor — (salt, n_keys, total_rows, max_load,
    skew_x100 = 100·max_load·n_keys div total_rows), exact integers.

    Scale shape: one token explode shared by all |factors| arms (narrow
    fan-out), one groupBy(salt, word, bucket) with map-side partials,
    then a |keys|-sized fold per factor — exactly the two-stage plan the
    salt factor buys, measured on itself.
    """
    from ..functions import rolling_hash

    docs = t["documents"]
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    arms = toks.select(
        "word",
        (
            rolling_hash(
                F.concat(F.lit("salt:"), F.col("doc_id").cast("string"))
            )
        ).alias("h"),
        F.explode(F.array(*[F.lit(int(s)) for s in factors])).alias("salt"),
    )
    per_key = arms.groupBy(
        "salt", "word", (F.col("h") % F.col("salt")).alias("bucket")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        per_key.groupBy("salt")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.sum("n").cast("long").alias("total_rows"),
            F.max("n").cast("long").alias("max_load"),
        )
        .select(
            F.col("salt").cast("long").alias("salt"),
            "n_keys",
            "total_rows",
            "max_load",
            F.expr("(100 * max_load * n_keys) div total_rows")
            .cast("long")
            .alias("skew_x100"),
        )
        .orderBy("salt")
    )


def salt_factor_curve_sql(factors: tuple[int, ...] = SALT_FACTORS) -> str:
    """Twin: same token explode, same doc-hash salt buckets, same
    folds."""
    from .oracle import ROLLING_HASH

    h = ROLLING_HASH.format(s="'salt:' || CAST(doc_id AS VARCHAR)")
    fl = "[" + ", ".join(str(int(s)) for s in factors) + "]"
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    arms AS (
        SELECT word, {h} AS h, unnest({fl}) AS salt FROM toks
    ),
    per_key AS (
        SELECT salt, word, h % salt AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM arms GROUP BY 1, 2, 3
    )
    SELECT CAST(salt AS BIGINT) AS salt,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(n) AS BIGINT) AS total_rows,
           CAST(max(n) AS BIGINT) AS max_load,
           CAST((100 * max(n) * count(*)) // sum(n) AS BIGINT)
               AS skew_x100
    FROM per_key
    GROUP BY salt
    ORDER BY salt
    """
