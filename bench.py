"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output is truncation-proof (round-2 lesson: the per-query JSON line
outgrew the driver's stdout tail window and the round lost its
machine-readable total): stdout carries the COMPACT summary line LAST
(totals + calibration, guaranteed to fit any tail window) after the
full per-query line, and both lines are also written to BENCH.json in
the repo root so the numbers survive regardless of how stdout is
captured.

Each query is timed end-to-end (plan build + execution to a count-style
materialization). A warmup query first JIT-warms the session so timings
reflect steady-state execution, not JVM startup.

Two independent noise nets feed the retry budget (round-7 lesson: probe
bracketing alone stamped a 4x transient "clean" because the contention
fell BETWEEN two probes): (1) calib probes interleaved through the sweep
flag host contention directly; (2) every query is also compared against
the last COMMITTED clean run (HEAD:BENCH.json) and re-timed when it
exceeds REGRESS_FACTOR (2.5) x its prior clean time. BENCH.json carries
the per-query adjudication ("regressions": noise vs reproduced), so a
reader never needs cross-run forensics.

The calibration and retry settings are the module constants below.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

CALIB_WARM_PROBES = 3  # matmul probes around the warm-up; fastest = idle
CALIB_FACTOR = 1.5  # probe > CALIB_FACTOR x idle marks a query contended
CALIB_RETRIES = 2  # re-timing passes over flagged queries
CALIB_RETRY_S = 150.0  # wall-clock budget for all re-timing passes
REGRESS_FACTOR = 2.5  # > REGRESS_FACTOR x prior clean time is re-timed
DEFAULT_SF_DIR = "/root/testdata/sf0.1"  # when SPARK_GRAFT_SF_DIR is unset


def load_prior_ref(
    repo_dir: str, fallback_thresh: float
) -> tuple[dict[str, float], str | None]:
    """Last committed clean bench as {query: seconds}, keeping only
    entries whose OWN calib stamp was clean (a contaminated prior time
    would flag phantom 'regressions' on every honest run). Prefers
    HEAD:BENCH.json (the committed run) over the working-tree file."""
    prior, prior_src = None, None
    try:
        import subprocess

        blob = subprocess.run(
            ["git", "-C", repo_dir, "show", "HEAD:BENCH.json"],
            capture_output=True, text=True, timeout=30,
        )
        if blob.returncode == 0 and blob.stdout.strip():
            prior = json.loads(blob.stdout)
            prior_src = "HEAD:BENCH.json"
    except Exception:  # noqa: BLE001 — no git available
        prior = None
    if prior is None:
        try:
            with open(os.path.join(repo_dir, "BENCH.json")) as f:
                prior = json.loads(f.readline())
            prior_src = "BENCH.json (working tree)"
        except Exception:  # noqa: BLE001 — first-ever run
            return {}, None
    p_thresh = prior.get("calib_threshold_s", fallback_thresh)
    p_calib = prior.get("calib", {})
    return (
        {
            nm: t
            for nm, t in prior.get("queries", {}).items()
            if p_calib.get(nm, 0.0) <= p_thresh
        },
        prior_src,
    )


def adjudicate_regressions(
    first_timing: dict[str, float],
    final_timing: dict[str, float],
    prior_ref: dict[str, float],
    factor: float,
) -> dict[str, dict]:
    """Every prior-clean query whose FIRST measurement exceeded
    factor x its committed time, with the retry loop's outcome: noise
    (re-timed back under the bar) or reproduced (still above — a real
    plan/code regression the reader must look at)."""
    return {
        nm: {
            "prior_s": prior_ref[nm],
            "first_s": first_timing[nm],
            "final_s": final_timing[nm],
            "verdict": (
                "reproduced"
                if final_timing[nm] > factor * prior_ref[nm]
                else "noise"
            ),
        }
        for nm in first_timing
        if nm in prior_ref and first_timing[nm] > factor * prior_ref[nm]
    }


def calib() -> float:
    """Seconds of a fixed single-thread BLAS burst. The bench box is
    time-shared and its effective CPU speed swings ~4-10x between runs
    (measured), so a probe taken around the timed runs gives the reader
    a normalization denominator and a contention flag."""
    import numpy as np

    a = np.random.RandomState(0).rand(1200, 1200)
    t0 = time.perf_counter()
    for _ in range(4):
        a = 0.5 * (a @ a) / np.linalg.norm(a)
    return round(time.perf_counter() - t0, 3)


def warm_up(spark) -> None:
    """JIT/codegen-warm the hot expression families (explode/agg,
    shingle hashing, window ranking) at sf0.001 so first-timed queries
    measure steady state, not C2 compilation."""
    import __spark_entry__ as entrymod

    entrymod.entry(spark).count()
    warm = entrymod.queries()
    for wq in ("doc_fingerprints", "bigram_counts", "top_orders_per_customer"):
        try:
            warm[wq](spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass


def warm_up_calibrated(spark) -> tuple[list[float], float, float]:
    """``warm_up`` between CALIB_WARM_PROBES matmul probes (one before,
    the rest after): (probes, idle baseline, contention threshold).

    The idle baseline is this run's fastest probe, not a constant: the
    probe's time depends on the host (0.21 s idle on 32 cores; every
    probe of one 4-core sweep read 0.41-0.96 s, so a 32-core constant
    stamped every query contended). A baseline from the run itself
    flags contention that comes and goes during the sweep.
    """
    probes = [calib()]
    warm_up(spark)
    probes += [calib() for _ in range(CALIB_WARM_PROBES - 1)]
    idle = min(probes)
    return probes, idle, round(idle * CALIB_FACTOR, 3)


def run_one(spark, fn, sf_dir: str) -> tuple[float, int, int, int]:
    """One timed run of ``fn(spark, sf_dir)``: (wall seconds, row count,
    generated classes compiled, JIT milliseconds). The timing spans plan
    build plus execution to a count() materialization.

    The compile count matters because a re-run finds the first run's
    classes in the session's codegen cache, so a retry's timing can
    come from a compile-free run. The JIT milliseconds are the HotSpot
    compilers' time over the same span (every compiler thread of the
    JVM, so also what earlier runs queued).

    Operators persist intra-query intermediates (shingle/band/edge
    relations) for within-plan reuse and intentionally leave unpersist
    to the harness (release_cached/clearCache): dropping the cache after
    every run, failed ones included, keeps 300+ queries' cached blocks
    from evicting each other and from leaking cached subplans into
    later queries, and makes timings independent of run order.
    """
    from training_etl_demo_2_spark.session import codegen_compiles, jit_ms

    c0, j0 = codegen_compiles(spark), jit_ms(spark)
    t0 = time.perf_counter()
    try:
        n = fn(spark, sf_dir).count()
        dt = round(time.perf_counter() - t0, 3)
        return dt, n, codegen_compiles(spark) - c0, jit_ms(spark) - j0
    finally:
        spark.catalog.clearCache()


def main() -> None:
    import __spark_entry__ as entrymod
    from training_etl_demo_2_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf

    spark = get_spark(app_name="bench")
    probes, calib_idle, calib_thresh = warm_up_calibrated(spark)

    # Calib-aware sweep (round-6 lesson: every round burned adjudication
    # time separating host contention from real regressions — a 2.7x
    # phantom on embedding_near_pairs in r6, line_dedup in r5). The
    # matmul probe is interleaved every PROBE_EVERY queries; each query's
    # calib context is the MAX of the probes bracketing its segment, and
    # any query whose context exceeds CALIB_FACTOR x the idle baseline
    # (the fastest warm-up probe) is automatically re-timed with tight
    # per-query probes, keeping the measurement with the cleaner stamp.
    # BENCH.json then carries a per-query calib stamp a reader can trust
    # without cross-run forensics.
    PROBE_EVERY = 10

    # Prior-run regression net (round-7 lesson: the driver's r07 run
    # stamped a 4x-transient q4_order_priority as "clean" — contention
    # BETWEEN two probes is invisible to probe bracketing). Load the
    # last COMMITTED clean run (HEAD:BENCH.json, falling back to the
    # working-tree file before we overwrite it) and flag any query that
    # exceeds REGRESS_FACTOR x its prior time even when its calib stamp
    # is clean; the retry loop then re-times those too, keeping the
    # faster measurement (a transient re-times away; a real regression
    # reproduces and is reported as such).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prior_ref, prior_src = load_prior_ref(repo_dir, calib_thresh)

    # Error-isolated sweep (round-3 lesson: one AnalysisException aborted
    # the whole run before any summary printed, zeroing the round's bench
    # artifact): a failing query records an error entry and the sweep
    # keeps timing the rest.
    registry = entrymod.queries()
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    calibs: dict[str, float] = {}
    compiles: dict[str, int] = {}  # of the run whose timing was kept
    jits: dict[str, int] = {}  # JIT ms of the run whose timing was kept
    seg_probe = probes[-1]
    segment: list[str] = []
    for i, (name, fn) in enumerate(registry.items()):
        if i and i % PROBE_EVERY == 0:
            p = calib()
            probes.append(p)
            for nm in segment:  # close the segment: bracket with max
                calibs[nm] = max(calibs[nm], p)
            segment = []
            seg_probe = p
        try:
            timings[name], n, compiles[name], jits[name] = run_one(
                spark, fn, sf_dir
            )
        except Exception as exc:  # noqa: BLE001 — sweep must survive
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"# {name}: ERROR {errors[name][:120]}", file=sys.stderr)
            continue
        calibs[name] = seg_probe
        segment.append(name)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)
    p = calib()
    probes.append(p)
    for nm in segment:
        calibs[nm] = max(calibs[nm], p)

    # Re-time contaminated measurements with tight per-query probes,
    # HEAVIEST FIRST under a wall-clock budget: on a bursty host most
    # of the flagged seconds live in a few expensive queries, so a
    # bounded retry rescues the numbers that matter without tripling
    # the bench when the whole sweep is contended.
    t_retry0 = time.perf_counter()
    first_timing = dict(timings)  # pre-retry values, for the regress report

    def is_regressed(nm: str) -> bool:
        return nm in prior_ref and timings[nm] > REGRESS_FACTOR * prior_ref[nm]

    for _ in range(CALIB_RETRIES):
        flagged = sorted(
            (
                nm
                for nm in timings
                if calibs[nm] > calib_thresh or is_regressed(nm)
            ),
            key=lambda nm: -timings[nm],
        )
        if not flagged or time.perf_counter() - t_retry0 > CALIB_RETRY_S:
            break
        print(f"# calib retry: {len(flagged)} flagged "
              f"({sum(1 for nm in flagged if is_regressed(nm))} vs prior), "
              f"budget {CALIB_RETRY_S:.0f}s", file=sys.stderr)
        for nm in flagged:
            if time.perf_counter() - t_retry0 > CALIB_RETRY_S:
                print("# calib retry budget exhausted", file=sys.stderr)
                break
            before = calib()
            try:
                dt, _, compiled, jit = run_one(spark, registry[nm], sf_dir)
            except Exception:  # noqa: BLE001 — keep the original timing
                continue
            stamp = max(before, calib())
            if stamp < calibs[nm] or (is_regressed(nm) and dt < timings[nm]):
                # keep the cleaner/faster measurement: a transient spike
                # re-times away; a genuine regression reproduces. When
                # BOTH stamps are clean, keep the min — a cleaner stamp
                # must never overwrite an earlier, faster clean time.
                both_clean = (
                    stamp <= calib_thresh and calibs[nm] <= calib_thresh
                )
                if (stamp < calibs[nm] and not both_clean) or dt < timings[nm]:
                    timings[nm], compiles[nm], jits[nm] = dt, compiled, jit
                calibs[nm] = min(stamp, calibs[nm])

    regressions = adjudicate_regressions(
        first_timing, timings, prior_ref, REGRESS_FACTOR
    )
    for nm, r in regressions.items():
        print(
            f"# regression {nm}: prior {r['prior_s']:.3f}s first "
            f"{r['first_s']:.3f}s final {r['final_s']:.3f}s -> "
            f"{r['verdict']}",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    n_contended = sum(1 for v in calibs.values() if v > calib_thresh)
    compact = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "sf": sf_val,
        # single-thread matmul seconds before/after the sweep:
        # normalize cross-run comparisons on a noisy shared host
        "calib_matmul_s": [probes[0], probes[-1]],
        "calib_idle_s": calib_idle,
        "calib_threshold_s": calib_thresh,
        "n_calib_contended": n_contended,
        "regress_factor": REGRESS_FACTOR,
        "prior_bench": prior_src,
        "n_regressions_flagged": len(regressions),
        "n_regressions_reproduced": sum(
            1 for r in regressions.values() if r["verdict"] == "reproduced"
        ),
    }
    full = {**compact, "queries": timings, "errors": errors,
            "calib": calibs, "codegen_compiles": compiles, "jit_ms": jits,
            "calib_probes": probes,
            "regressions": regressions}
    # Compact line FIRST and LAST, full per-query line in between: a
    # stdout tail window that clips the (large) per-query line still
    # ends with a complete, parseable summary line, and a head-biased
    # parser finds one up front too.
    print(json.dumps(compact))
    print(json.dumps(full))
    print(json.dumps(compact))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH.json"), "w") as f:
        f.write(json.dumps(full) + "\n")


if __name__ == "__main__":
    main()
