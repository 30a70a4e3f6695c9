"""Unit tests for bench.py's prior-run regression net (no Spark) and
for its timed run's cache hygiene (shared Spark session).

Round-7 gap this closes: the driver's r07 bench stamped a 4x transient
(q4_order_priority 3.76s vs 0.91s committed) as calib-clean because the
contention fell between two probes. The regression net compares every
query against the last committed clean run and spends retry budget on
anything > factor x prior, independent of the probe bracketing.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import adjudicate_regressions, load_prior_ref, run_one  # noqa: E402


def test_adjudicate_noise_vs_reproduced():
    prior = {"a": 1.0, "b": 1.0, "c": 1.0}
    first = {"a": 4.0, "b": 4.0, "c": 1.1, "d": 9.0}  # d has no prior
    final = {"a": 0.9, "b": 3.8, "c": 1.1, "d": 9.0}
    out = adjudicate_regressions(first, final, prior, factor=2.5)
    assert set(out) == {"a", "b"}  # c under the bar, d prior-less
    assert out["a"]["verdict"] == "noise"  # re-timed back under 2.5x
    assert out["b"]["verdict"] == "reproduced"  # still above after retry
    assert out["a"]["prior_s"] == 1.0 and out["a"]["first_s"] == 4.0


def test_adjudicate_empty_prior_flags_nothing():
    assert adjudicate_regressions({"a": 99.0}, {"a": 99.0}, {}, 2.5) == {}


def test_load_prior_ref_filters_contaminated_entries(tmp_path):
    # a prior run where query 'dirty' carried a contaminated calib
    # stamp must NOT contribute a reference time (it would flag phantom
    # regressions on every honest run)
    bench = {
        "calib_threshold_s": 0.3,
        "queries": {"clean": 1.0, "dirty": 0.2},
        "calib": {"clean": 0.25, "dirty": 0.9},
    }
    (tmp_path / "BENCH.json").write_text(json.dumps(bench) + "\n")
    ref, src = load_prior_ref(str(tmp_path), 0.3)
    assert ref == {"clean": 1.0}
    assert src == "BENCH.json (working tree)"


def test_load_prior_ref_missing_dir_is_empty(tmp_path):
    ref, src = load_prior_ref(str(tmp_path / "nope"), 0.3)
    assert ref == {} and src is None


def test_load_prior_ref_prefers_committed_blob(tmp_path):
    # a git repo whose HEAD BENCH.json differs from the working tree:
    # the committed numbers win (the working tree may hold a fresher,
    # not-yet-adjudicated run)
    env = {**os.environ, "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
           "GIT_COMMITTER_NAME": "t", "GIT_COMMITTER_EMAIL": "t@t"}
    subprocess.run(["git", "init", "-q", str(tmp_path)], check=True, env=env)
    committed = {"calib_threshold_s": 0.3, "queries": {"q": 1.0},
                 "calib": {"q": 0.1}}
    p = tmp_path / "BENCH.json"
    p.write_text(json.dumps(committed) + "\n")
    subprocess.run(["git", "-C", str(tmp_path), "add", "BENCH.json"],
                   check=True, env=env)
    subprocess.run(["git", "-C", str(tmp_path), "commit", "-qm", "b"],
                   check=True, env=env)
    p.write_text(json.dumps({**committed, "queries": {"q": 7.0}}) + "\n")
    ref, src = load_prior_ref(str(tmp_path), 0.3)
    assert ref == {"q": 1.0}
    assert src == "HEAD:BENCH.json"


def test_run_one_clears_cache_when_the_query_fails(spark, sf_dir):
    # a failing query's persisted relations must not outlive its run:
    # left in the CacheManager, later queries of a sweep would pick up
    # its cached subplans
    from pyspark.sql import functions as F

    def persist_then_fail(spark, sf_dir):
        cached = spark.range(10).persist()
        return cached.where(F.expr("assert_true(id < 0) IS NULL"))

    with pytest.raises(Exception):
        run_one(spark, persist_then_fail, sf_dir)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
