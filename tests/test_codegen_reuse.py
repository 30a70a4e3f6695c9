"""A session compiles each generated class once, then reuses it.

Spark caches compiled generated classes per JVM, least recently used
first. The benchmark's ``query_sweep`` list needs more classes than
Spark's default 100 entries, and a cyclic re-run of that list evicts
each class just before it is needed again. ``get_spark`` sizes the
cache so the second run of the list compiles nothing.
"""

from __future__ import annotations

import os
import sys

from training_etl_demo_2_spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
)

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench")
)
from workloads import QUERY_SWEEP  # noqa: E402


def test_session_sets_codegen_cache_size(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) == (
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_second_sweep_cycle_compiles_nothing(spark, sf_dir):
    import __spark_entry__ as entrymod

    registry = entrymod.queries()

    def cycle() -> dict[str, int]:
        compiles = {}
        for name in QUERY_SWEEP:
            before = codegen_compiles(spark)
            registry[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            spark.catalog.clearCache()
            compiles[name] = codegen_compiles(spark) - before
        return compiles

    # Adaptive execution stays on, as in a vanilla session: every plan
    # of the list is the same on each call, so every class of the
    # second cycle is one that the first cycle compiled.
    cycle()
    assert codegen_compiles(spark) > 0  # the counter sees compiles
    second = cycle()
    assert {n: c for n, c in second.items() if c} == {}
