"""Same-session A/B of one registered query against a variant of it.

Usage: python tools/ab.py QUERY MODULE:FUNCTION [OUT.json]

Arm A is the registry entry ``QUERY``; arm B is any importable callable
``(spark, sf_dir) -> DataFrame`` (put a variant's module on PYTHONPATH).
Both arms run at $SPARK_GRAFT_SF_DIR (bench.py's default) in ONE Spark
session, after bench.py's warm-up, so they share one contention window
on a time-shared host.

1. Equality, before any timing: each arm runs once untimed and its
   column set, then its rows (through check_oracle's canonical form),
   must match.
2. Warm-up: each arm runs once more untimed through bench.run_one. The
   equality run's collect() plans different code from the timed
   count(), so without this the first timed pair still compiles
   generated classes and is the slowest pair.
3. Timing: PAIRS pairs, alternating which arm runs first, each run
   through bench.run_one (count() materialization, cache cleared after
   it), with bench.calib() probes before and after.
4. Verdict (``verdict`` below): ``faster`` when B wins at least nine
   tenths of the pairs and median(A) - median(B) > IQR(A); ``slower``
   in the mirror case; otherwise ``no difference``.

Counters come first: each timed run records the py4j call commands
(``c``) its registry call sent while building the plan, and the report
gives their median per arm ahead of the times. A build count is
deterministic for a given plan, so it separates a driver-side change
from host noise before any time is read.

Prints one compact summary line; the full report (per-arm build py4j
calls, times, median, quartiles, codegen compiles, JIT milliseconds)
goes to OUT.json when given.
Exits 0 after timing, 1 when the arms' rows differ, and 2, before Spark
starts, on an unregistered query or an arm that cannot be imported.
"""

from __future__ import annotations

import importlib
import json
import math
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from tools.check_oracle import rows_to_canonical  # noqa: E402
from training_etl_demo_2_spark.session import Py4jCalls, get_spark  # noqa: E402

PAIRS = 10  # the fewest alternated pairs a speed claim may rest on


def wins(a_times: list[float], b_times: list[float]) -> tuple[int, int]:
    """Pairs won by A and by B; a tie counts for neither."""
    return (
        sum(a < b for a, b in zip(a_times, b_times)),
        sum(b < a for a, b in zip(a_times, b_times)),
    )


def quartiles(times: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3), interpolated between the observed times."""
    q1, med, q3 = statistics.quantiles(times, n=4, method="inclusive")
    return round(q1, 3), round(med, 3), round(q3, 3)


def verdict(a_times: list[float], b_times: list[float]) -> str:
    """``faster``/``slower`` when one arm wins at least nine tenths of
    the pairs and the medians differ by more than A's interquartile
    range (A is the reference arm, so its spread is the noise floor in
    both directions); ``no difference`` otherwise."""
    a_won, b_won = wins(a_times, b_times)
    need = math.ceil(0.9 * len(a_times))
    q1, med_a, q3 = quartiles(a_times)
    gap = med_a - quartiles(b_times)[1]
    if b_won >= need and gap > q3 - q1:
        return "faster"
    if a_won >= need and -gap > q3 - q1:
        return "slower"
    return "no difference"


def load_arm(spec: str):
    """``MODULE:FUNCTION`` -> the callable; raises ImportError,
    AttributeError or ValueError when it cannot be resolved."""
    module, sep, attr = spec.partition(":")
    if not (module and sep and attr):
        raise ValueError(f"arm {spec!r} is not MODULE:FUNCTION")
    fn = getattr(importlib.import_module(module), attr)
    if not callable(fn):
        raise ValueError(f"arm {spec!r} is not callable")
    return fn


def collect(spark, fn, sf_dir: str) -> tuple[list[str], list]:
    try:
        df = fn(spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]
    finally:
        spark.catalog.clearCache()


def mismatch(spark, arms: dict, sf_dir: str) -> str | None:
    """Why the arms' results differ, or None when they agree."""
    (a_cols, a_rows), (b_cols, b_rows) = (
        collect(spark, fn, sf_dir) for fn in arms.values()
    )
    if sorted(a_cols) != sorted(b_cols):
        return f"columns A={sorted(a_cols)} B={sorted(b_cols)}"
    if rows_to_canonical(a_cols, a_rows) != rows_to_canonical(b_cols, b_rows):
        return f"rows differ: A has {len(a_rows)}, B has {len(b_rows)}"
    return None


def counting_build(fn, calls: list[int]):
    """``fn``, appending to ``calls`` the py4j call commands that each
    of its registry calls sends (the plan build, not the action)."""
    def build(spark, sf_dir):
        with Py4jCalls() as sent:
            df = fn(spark, sf_dir)
        calls.append(sent.n)
        return df
    return build


def time_pairs(spark, arms: dict, sf_dir: str) -> dict[str, dict]:
    runs = {arm: {"build_py4j_calls": [], "times": [], "codegen_compiles": [],
                  "jit_ms": []} for arm in arms}
    for i in range(PAIRS):
        for arm in ("A", "B") if i % 2 == 0 else ("B", "A"):
            build = counting_build(arms[arm], runs[arm]["build_py4j_calls"])
            dt, _, compiled, jit = bench.run_one(spark, build, sf_dir)
            runs[arm]["times"].append(dt)
            runs[arm]["codegen_compiles"].append(compiled)
            runs[arm]["jit_ms"].append(jit)
    for r in runs.values():
        calls = r["build_py4j_calls"]
        r["build_py4j_calls_median"] = statistics.median(calls) if calls else None
        r["q1"], r["median"], r["q3"] = quartiles(r["times"])
    return runs


def main(argv: list[str]) -> int:
    import __spark_entry__ as entrymod

    if len(argv) not in (2, 3):
        print("usage: python tools/ab.py QUERY MODULE:FUNCTION [OUT.json]")
        return 2
    query, spec = argv[:2]
    registry = entrymod.queries()
    if query not in registry:
        print(f"unknown query: {query}")
        return 2
    try:
        arms = {"A": registry[query], "B": load_arm(spec)}
    except (ImportError, AttributeError, ValueError) as exc:
        print(f"cannot load arm B: {type(exc).__name__}: {exc}")
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR)

    spark = get_spark(app_name="ab")
    bench.warm_up(spark)
    why = mismatch(spark, arms, sf_dir)
    if why:
        print(f"{query} vs {spec}: results differ, not timed: {why}")
        return 1
    for fn in arms.values():  # compile the timed count() plan untimed
        bench.run_one(spark, fn, sf_dir)
    calib_before = bench.calib()
    runs = time_pairs(spark, arms, sf_dir)
    calib_after = bench.calib()

    a, b = runs["A"]["times"], runs["B"]["times"]
    a_won, b_won = wins(a, b)
    report = {
        "query": query, "arm_b": spec, "sf_dir": sf_dir, "pairs": PAIRS,
        "verdict": verdict(a, b), "a_wins": a_won, "b_wins": b_won,
        "calib_matmul_s": [calib_before, calib_after], **runs,
    }
    if len(argv) == 3:
        with open(argv[2], "w") as f:
            json.dump(report, f, indent=1)
    print(json.dumps({
        "query": query, "arm_b": spec,
        "build_py4j_calls_a": runs["A"]["build_py4j_calls_median"],
        "build_py4j_calls_b": runs["B"]["build_py4j_calls_median"],
        "verdict": report["verdict"],
        "b_wins": b_won, "median_a": runs["A"]["median"],
        "median_b": runs["B"]["median"],
        "iqr_a": round(runs["A"]["q3"] - runs["A"]["q1"], 3),
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
