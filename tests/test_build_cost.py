"""Driver-side plan-build cost guard: the py4j call commands (``c``)
sent while three sweep queries build their lazy DataFrames, and the
session setting that keeps PySpark from capturing a Python call site on
every DataFrame API call.

A count, unlike a time, repeats exactly for a given plan, so an upper
bound catches a family rebuilt one ``F.*`` call at a time, or origin
capture switched back on, without timing noise.
"""

from __future__ import annotations

import pytest

from training_etl_demo_2_spark.operators import pipeline, text
from training_etl_demo_2_spark.session import Py4jCalls

# Measured in the shared test session (sf0.001, 4 cores): langid_kappa
# 37, gopher_quality_rules 22, clean_corpus 59, each the same on every
# call. Before the text families became SQL text and origin capture
# went off, the same builds sent 465, 333 and 305. Each bound is the
# measured count plus about 25 %.
BUILD_PY4J_BOUNDS = {
    "langid_kappa": 46,
    "gopher_quality_rules": 27,
    "clean_corpus": 74,
}

BUILDS = {
    "langid_kappa": lambda t: text.langid_kappa(t["documents"]),
    "gopher_quality_rules": lambda t: text.gopher_quality_rules(t["documents"]),
    "clean_corpus": pipeline.clean_corpus,
}


def test_origin_capture_is_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


@pytest.mark.parametrize("name", sorted(BUILD_PY4J_BOUNDS))
def test_build_py4j_calls_bounded(spark, tables, name):
    with Py4jCalls() as sent:
        BUILDS[name](tables)
    assert sent.n <= BUILD_PY4J_BOUNDS[name], sent.n
