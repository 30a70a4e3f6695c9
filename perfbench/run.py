#!/usr/bin/env python3
"""Seeded end-to-end and per-layer benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload query_sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One closed-loop client on
``local[<cpus>]``: every operation starts when the previous one has
finished. A run

1. generates the workload's inputs from ``--seed`` under
   ``.perfbench/work-<pid>/`` (outside any timed region);
2. sets the session up seven times (``get_spark`` plus a first trivial
   job; the first set-up also launches the JVM);
3. waits for the JVM to go quiet, runs one cold pass, then one more
   pass that checks every output against its DuckDB twin;
4. restarts the peak RSS of the Python driver and the JVM, waits for
   the JVM to go quiet, then runs the workload's fixed number of later
   passes, and more until ``--seconds`` have passed;
5. with ``--trace 1``, runs untraced later passes, a session with an
   event log and the layer tracer, and a fresh untraced session, and
   reports the per-layer metrics and the tracing overhead instead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (every end-to-end metric, or with
``--trace 1`` every per-layer metric, each with its unit). The full
record (settings, input stats, per-pass and per-operation times,
failures, spans) goes to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import gc
import json
import math
import multiprocessing
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BASE = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(BASE, f"work-{os.getpid()}")  # removed when the run ends
N_SETUPS = 7
MIN_LATER_PASSES = 3
RUN_GUARD_S = 140.0  # start no new pass after this much wall time
OP_TIMEOUT_S = 120.0  # an operation slower than this counts as failed
QUIET_MAX_S = 3.0  # longest wait for the JVM to go quiet before timing
QUIET_STEP_S = 0.25
# Host-speed probe: a fixed piece of interpreter work, timed in thread CPU
# seconds, about PROBES_PER_PASS times per pass, spread over the gaps
# after its operations (outside their timed regions). PROBE_REF_S is what
# one probe costs at the reference speed.
PROBE_ITERS = 100_000
PROBES_PER_PASS = 12
PROBE_REF_S = 0.02

sys.path.insert(0, HERE)

from inputs import generate  # noqa: E402
from tracing import dir_bytes  # noqa: E402
from workloads import (  # noqa: E402
    REFERENCE_WORKFLOW,
    WORKLOADS,
    reference_sink_problems,
    rows_digest,
)

# Gated end-to-end metrics. Times are CPU seconds of the Python driver
# and the JVM with its Python workers, divided by the host's slowdown
# (``host_slowdown``, ``host_slowdown_first``, from the probe): on a shared
# virtual host the wall time of the same pass swings 1.4-1.6x with the
# CPU time stolen by neighbours, and the CPU time of the same work moves
# up to 2x over hours with the speed the host gives a core.
END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "rows_per_cpu_s": "rows/s",
    "op_cpu_s_p50": "s",
    "op_cpu_s_tail": "s",
    "peak_rss_mb": "MB",
    "bytes_out_per_byte_in": "ratio",
}

# Wall-clock and raw CPU twins and run health, printed and recorded but
# not gated.
UNGATED_UNITS = {
    "host_slowdown": "ratio",
    "host_slowdown_first": "ratio",
    "first_pass_raw_cpu_s": "s",
    "pass_raw_cpu_s": "s",
    "setup_cold_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "rows/s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "steal_share": "ratio",
    "failed_ratio": "ratio",
}

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "io.load_tables_s": "s",
    "io.load_tables_calls": "count",
    "io.write_run_s": "s",
    "io.write_run_bytes": "bytes",
    "io.latest_run_s": "s",
    "sinks.write_s": "s",
    "sinks.items": "count",
    "sinks.bytes": "bytes",
    "plans.job_a_s": "s",
    "plans.job_b_s": "s",
    "plans.job_attempts": "count",
    "operators.build_s": "s",
    "operators.build_self_s": "s",
    "operators.build_py4j_calls": "count",
    "operators.build_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "engine.action_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.executor_run_s": "s",
    "engine.executor_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_records": "count",
    "engine.spill_bytes": "bytes",
    "engine.busy_share": "ratio",
    "python.udf_s": "s",
    "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes",
    "cache.persists": "count",
    "cache.mem_bytes_peak": "bytes",
    "cache.disk_bytes_peak": "bytes",
    "streaming.batches": "count",
    "streaming.empty_batch_share": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.overhead_share": "ratio",
    "streaming.start_stop_s": "s",
    "streaming.state_rows": "count",
    "trace.overhead": "ratio",
}


def configure_environment() -> dict:
    """Pin the session to this host and keep every file the engine
    writes inside the checkout. Must run before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    driver_gb = max(1, min(4, mem_kb // (1024 * 1024) // 3))
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        # a fixed heap (-Xms = -Xmx) keeps the JVM's peak RSS from
        # following the collector's adaptive resizing
        "SPARK_GRAFT_JAVA_OPTS": (
            f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{driver_gb}g -Djava.io.tmpdir={tmp}"
        ),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(settings)
    tempfile.tempdir = tmp
    return settings


def generate_inputs(out_dir: str, seed: int, sizes) -> dict:
    """Run the generator in a child process, so that its memory never
    counts in this process's peak RSS. Forked before the JVM starts."""
    ctx = multiprocessing.get_context("fork")
    with concurrent.futures.ProcessPoolExecutor(1, mp_context=ctx) as pool:
        return pool.submit(generate, out_dir, seed, sizes).result()


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's ``VmHWM`` at its current RSS, so that the
    peak read later covers only what ran after this call."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def tree_cpu_s(root_pids: list[int]) -> float:
    """User + system CPU seconds of the given processes and all their
    descendants (the JVM's Python workers included). CPU time does not
    accrue while a virtual CPU is descheduled, so on a shared host it
    varies far less from run to run than wall time does."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(entry)] = int(stat[1])
        # utime + stime + cutime + cstime: reaped workers count once,
        # in their parent
        cpu[int(entry)] = sum(int(x) for x in stat[11:15]) / _CLK_TCK
    total, todo = 0.0, list(root_pids)
    seen = set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += cpu.get(pid, 0.0)
        todo.extend(c for c, p in parent.items() if p == pid)
    return total


def probe_s() -> float:
    """Thread CPU seconds of a fixed piece of interpreter and memory
    work. It runs no code of the program; what moves it is the share of
    a physical core and of its caches that the neighbours on the host
    leave this virtual CPU."""
    t0 = time.thread_time()
    x, d = 0, {}
    for i in range(PROBE_ITERS):
        x = (x * 31 + i) & 0xFFFFF
        d[x] = i
    return time.thread_time() - t0


def central_mean(samples: list[float]) -> float:
    """Mean of the samples between the 40th and 60th percentiles: the
    median, smoothed. The sweep's operations differ several-fold in
    cost, so the plain median jumps between neighbouring operations
    from run to run (spread 0.09-0.10 over ten seeds, against 0.04-0.05
    for this). With ten samples or fewer it is the median."""
    xs = sorted(samples)
    n = len(xs)
    return statistics.mean(xs[math.floor(0.4 * n):math.ceil(0.6 * n)])


def tail_percentile(samples: list[float]) -> tuple[int, float]:
    """Highest whole percentile (nearest rank) with at least 10 samples
    above it; the median when that percentile would be below the
    median (20 samples or fewer)."""
    xs = sorted(samples)
    n = len(xs)
    p = math.floor(100 * (n - 10) / n)
    if p <= 50:
        return 50, statistics.median(xs)
    k = max(1, math.ceil(p * n / 100))
    return p, xs[k - 1]


class Bench:
    def __init__(self, args, settings: dict):
        self.args = args
        self.settings = settings
        self.wl = WORKLOADS[args.workload]
        self.t_start = time.perf_counter()
        self.data_dir = os.path.join(WORK, "data")
        self.runs_dir = os.path.join(WORK, "runs")
        self.out_dir = os.path.join(BASE, "out")
        self.prefix = os.path.join(
            self.out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}"
        )
        self.spark = None
        self.tracer = None
        self.failures: list[dict] = []
        self.attempted = 0
        self.passes: list[dict] = []
        self.windows: list[tuple] = []  # (uid, phase, t0, t1) of traced ops
        self.actions_traced = 0
        self.out_bytes = 0
        self.digests: dict[str, tuple[int, str]] = {}
        self.probes_per_gap = max(1, round(PROBES_PER_PASS / len(self.wl.ops)))

    # -- set-up --------------------------------------------------------
    def spark_conf(self, traced: bool) -> dict:
        conf = {"spark.ui.showConsoleProgress": "false"}
        if traced:
            log_dir = os.path.join(WORK, "eventlog")
            shutil.rmtree(log_dir, ignore_errors=True)
            os.makedirs(log_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def set_up(self, traced: bool = False) -> tuple[float, float]:
        from training_etl_demo_2_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", extra_conf=self.spark_conf(traced))
        t1 = time.perf_counter()
        self.spark.range(1).count()
        t2 = time.perf_counter()
        self._point_checkpoints_into_checkout()
        return t1 - t0, t2 - t0

    def _point_checkpoints_into_checkout(self) -> None:
        # the fixture streams checkpoint under /dev/shm by default; keep
        # every write of the benchmark inside its checkout
        from training_etl_demo_2_spark.streaming import fixture_queries

        fixture_queries._REPLAY_CKPT_BASE = os.path.join(WORK, "tmp")

    # -- one operation ---------------------------------------------------
    def run_op(self, name: str, uid: str, check: bool) -> dict:
        spark, sc, tr = self.spark, self.spark.sparkContext, self.tracer
        rec = {"op": name, "uid": uid, "ok": True, "call_s": 0.0, "action_s": 0.0,
               "traced": tr is not None}
        df = None
        self.attempted += 1
        sc.setJobGroup(f"pb:{uid}:call", name)
        cpu_roots = [os.getpid(), self.jvm_pid()]
        cpu0 = tree_cpu_s(cpu_roots)
        t0 = time.time()
        if tr:
            tr.begin_op(uid, name)
            call_span = tr.open("call")
            tr.py4j_calls = 0
            tr.counting_py4j = True
        try:
            if name == REFERENCE_WORKFLOW:
                from training_etl_demo_2_spark.plans.reference_pipeline import (
                    build_reference_workflow,
                )

                work_root = os.path.join(self.runs_dir, uid)
                runs = build_reference_workflow(
                    os.path.join(self.data_dir, "reviews.tsv"), work_root, text_col="review_body"
                ).run(spark)
                rec["jobs"] = [
                    {"job": r.job_name, "state": r.state, "attempts": r.attempts,
                     "elapsed_s": r.elapsed_s, "result": r.result, "error": r.error}
                    for r in runs
                ]
                bad = [r for r in runs if r.state != "SUCCEEDED"]
                if bad:
                    raise RuntimeError(f"workflow job {bad[0].job_name} {bad[0].state}: {bad[0].error}")
            else:
                df = self.queries[name](spark, self.data_dir)
        except Exception as exc:  # noqa: BLE001 - a failure is measured, not fatal
            rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc)[:300]}")
        t1 = time.time()
        if tr:
            tr.counting_py4j = False
            tr.close(call_span, py4j_calls=tr.py4j_calls)
            rec["py4j_calls"] = tr.py4j_calls
            self.windows.append((uid, "call", t0, t1))
        if df is not None:
            sc.setJobGroup(f"pb:{uid}:action", name)
            rec["noop"] = True
            if tr:
                action_span = tr.open("action")
                self.actions_traced += 1
            try:
                df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc)[:300]}")
            if tr:
                tr.close(action_span)
        t2 = time.time()
        rec.update(call_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
                   cpu_s=tree_cpu_s(cpu_roots) - cpu0)
        if tr:
            self.windows.append((uid, "action", t1, t2))
            tr.end_op()
            storage = sc._jsc.sc().getRDDStorageInfo()
            rec["cache_mem_bytes"] = sum(s.memSize() for s in storage)
            rec["cache_disk_bytes"] = sum(s.diskSize() for s in storage)
        if rec["ok"] and rec["wall_s"] > OP_TIMEOUT_S:
            rec.update(ok=False, error=f"timeout: {rec['wall_s']:.1f}s > {OP_TIMEOUT_S}s")
        if check and rec["ok"]:
            problems = self.check(name, uid, df)
            if problems:
                rec.update(ok=False, error="output mismatch: " + "; ".join(problems)[:500])
        if not rec["ok"]:
            self.failures.append({"op": name, "uid": uid, "error": rec["error"]})
        t3 = time.perf_counter()
        spark.catalog.clearCache()
        rec["clear_s"] = time.perf_counter() - t3
        rec["probes"] = [probe_s() for _ in range(self.probes_per_gap)]
        return rec

    # -- output checks -----------------------------------------------------
    def check(self, name: str, uid: str, df) -> list[str]:
        from tools.check_oracle import compare_one

        if name == REFERENCE_WORKFLOW:
            work_root = os.path.join(self.runs_dir, uid)
            self.out_bytes += sum(
                dir_bytes(os.path.join(work_root, d)) for d in ("analysis_results", "kv_table")
            )
            return reference_sink_problems(
                os.path.join(work_root, "kv_table"),
                os.path.join(self.data_dir, "reviews.tsv"),
                self.oracles["word_count"],
            )
        oracle = self.oracles.get(name)
        captured = _Capture(df)
        if oracle is None:  # rows-only: row count + order-insensitive hash
            pdf = captured.toPandas()
            self.digests[name] = (len(pdf), rows_digest(pdf.itertuples(index=False, name=None)))
            problems = []
        else:
            problems = compare_one(
                self.spark, self.duck, name, lambda s, d: captured, oracle, self.data_dir
            )
        if captured.pdf is not None:
            self.out_bytes += int(captured.pdf.memory_usage(deep=True).sum())
        return problems

    def recheck_rows_only(self) -> None:
        """Rows-only entries must give the same rows on a later pass."""
        for name, (n, digest) in self.digests.items():
            try:
                pdf = self.queries[name](self.spark, self.data_dir).toPandas()
                again = (len(pdf), rows_digest(pdf.itertuples(index=False, name=None)))
            except Exception as exc:  # noqa: BLE001
                again = (-1, f"{type(exc).__name__}: {exc}")
            self.spark.catalog.clearCache()
            self.attempted += 1
            if again != (n, digest):
                self.failures.append({
                    "op": name, "uid": "recheck",
                    "error": f"rows-only output changed across passes: {n} rows -> {again[0]} rows",
                })

    # -- passes --------------------------------------------------------
    def run_pass(self, label: str, check: bool = False) -> dict:
        steal0, total0 = host_ticks()
        ops = [self.run_op(name, f"{label}.{i}", check) for i, name in enumerate(self.wl.ops)]
        steal1, total1 = host_ticks()
        shutil.rmtree(self.runs_dir, ignore_errors=True)
        p = {
            "label": label,
            "wall_s": sum(o["wall_s"] + o["clear_s"] for o in ops),
            "cpu_s": sum(o["cpu_s"] for o in ops),
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "probes": [x for o in ops for x in o["probes"]],
            "ops": ops,
        }
        self.passes.append(p)
        return p

    def wait_quiet(self) -> float:
        """Wait until the JVM and the driver use less than a quarter of
        one CPU (the JIT has drained its queue of compiles left by the
        set-up or the checks), at most QUIET_MAX_S. Returns the wait."""
        roots = [os.getpid(), self.jvm_pid()]
        t0 = time.perf_counter()
        cpu = tree_cpu_s(roots)
        while time.perf_counter() - t0 < QUIET_MAX_S:
            time.sleep(QUIET_STEP_S)
            now = tree_cpu_s(roots)
            if now - cpu < QUIET_STEP_S / 4:
                break
            cpu = now
        return time.perf_counter() - t0

    def run_later(self, prefix: str, seconds: float, passes: int = MIN_LATER_PASSES) -> list[dict]:
        later: list[dict] = []
        t0 = time.perf_counter()
        while len(later) < passes or (
            time.perf_counter() - t0 < seconds
            and time.perf_counter() - self.t_start < RUN_GUARD_S
        ):
            later.append(self.run_pass(f"{prefix}{len(later) + 1}"))
        return later

    # -- the run -------------------------------------------------------
    def run(self) -> dict:
        import __spark_entry__ as entry
        from tools.check_oracle import duck_connect

        os.makedirs(self.out_dir, exist_ok=True)
        t_gen = time.perf_counter()
        stats = generate_inputs(self.data_dir, self.args.seed, self.wl.sizes)
        gen_s = time.perf_counter() - t_gen
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        self.duck = duck_connect(self.data_dir)

        setups = [self.set_up() for _ in range(N_SETUPS)]
        quiet_s = [self.wait_quiet()]
        first = self.run_pass("first")
        # Checked apart from the timed first pass: the checks' own jobs
        # leave the JIT compiling into whatever runs next.
        self.run_pass("check", check=True)
        # the checks' DuckDB queries and pandas frames stay out of the peak
        self.duck.close()
        gc.collect()
        reset_peak_rss([os.getpid(), self.jvm_pid()])
        quiet_s.append(self.wait_quiet())
        if self.args.trace:
            per_layer, detail, later = self.run_traced(setups)
        else:
            later = self.run_later("later", self.args.seconds, self.wl.later_passes)
        rss = {"python_kb": vm_hwm_kb("self"), "jvm_kb": vm_hwm_kb(self.jvm_pid())}
        self.recheck_rows_only()

        later_ops = [o for p in later for o in p["ops"]]
        wall_tail_p, wall_tail = tail_percentile([o["wall_s"] for o in later_ops])
        cpu_tail_p, cpu_tail = tail_percentile([o["cpu_s"] for o in later_ops])
        pass_s = statistics.median(p["wall_s"] for p in later)
        pass_raw_cpu_s = statistics.median(p["cpu_s"] for p in later)
        # The host's slowdown over the later passes.
        # A mean, not a median: the host flips between fast and slow spells
        # shorter than a pass, and the passes pay their average.
        slowdown = statistics.mean(x for p in later for x in p["probes"]) / PROBE_REF_S
        # The first pass's own slowdown, from the probes between its
        # operations (not after the last, while the JIT still compiles
        # what the pass queued). A one-operation pass has none and is not
        # divided: probes before or after it did not follow its cost.
        between = [x for o in first["ops"][:-1] for x in o["probes"]]
        first_slowdown = statistics.mean(between) / PROBE_REF_S if between else 1.0
        pass_cpu_s = pass_raw_cpu_s / slowdown
        input_rows = self.wl.input_rows(stats)
        input_bytes = self.wl.input_bytes(stats)
        end_to_end = {
            "setup_s": statistics.median(s[1] for s in setups),
            "first_pass_cpu_s": first["cpu_s"] / first_slowdown,
            "pass_cpu_s": pass_cpu_s,
            "rows_per_cpu_s": input_rows / pass_cpu_s,
            "op_cpu_s_p50": central_mean([o["cpu_s"] for o in later_ops]) / slowdown,
            "op_cpu_s_tail": cpu_tail / slowdown,
            "peak_rss_mb": (rss["python_kb"] + rss["jvm_kb"]) / 1024.0,
            "bytes_out_per_byte_in": self.out_bytes / input_bytes,
        }
        ungated = {
            "host_slowdown": slowdown,
            "host_slowdown_first": first_slowdown,
            "first_pass_raw_cpu_s": first["cpu_s"],
            "pass_raw_cpu_s": pass_raw_cpu_s,
            "setup_cold_s": setups[0][1],
            "first_pass_s": first["wall_s"],
            "pass_s": pass_s,
            "rows_per_s": input_rows / pass_s,
            "op_s_p50": central_mean([o["wall_s"] for o in later_ops]),
            "op_s_tail": wall_tail,
            "steal_share": statistics.median(p["steal_share"] for p in later),
        }
        record = {
            "workload": self.wl.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "settings": {**self.settings, **self.session_settings()},
            "inputs": {**stats, "generate_s": gen_s, "input_rows": input_rows,
                       "input_bytes": input_bytes},
            "setups": [{"get_spark_s": a, "total_s": b} for a, b in setups],
            "tail_percentile": {"op_s_tail": wall_tail_p, "op_cpu_s_tail": cpu_tail_p},
            "tail_samples": len(later_ops),
            "quiet_wait_s": quiet_s,
            "probes": {"per_gap": self.probes_per_gap,
                       "ref_s": PROBE_REF_S, "iters": PROBE_ITERS},
            "rss": rss,
            "end_to_end": end_to_end,
            "ungated": ungated,
        }
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in end_to_end.items()}
        if self.args.trace:
            record["per_layer"] = per_layer
            record["trace_detail"] = detail
            metrics = {k: (per_layer[k], PER_LAYER_UNITS[k]) for k in PER_LAYER_UNITS}
        n_ops = self.attempted
        ungated["failed_ratio"] = len(self.failures) / n_ops
        self.ungated = ungated
        record.update(
            attempted=n_ops,
            failed=len(self.failures),
            failures=self.failures,
            passes=self.passes,
            total_s=time.perf_counter() - self.t_start,
        )
        with open(self.prefix + ".json", "w") as f:
            json.dump(record, f, indent=1, default=str)
        return {
            "correct": not self.failures,
            "attempted": n_ops,
            "failed": len(self.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def run_traced(self, setups) -> tuple[dict, dict, list[dict]]:
        """Untraced later passes (A), a traced session (B: warm-up pass,
        then later passes), and a fresh untraced session (A: warm-up,
        then later passes). The JVM keeps warming from pass to pass, so
        B is compared with the mean of the A before and the A after."""
        from layers import per_layer_metrics
        from tracing import Tracer, find_event_log, parse_event_log

        share = self.args.seconds / 3
        before = self.run_later("before", share)
        self.set_up(traced=True)
        self.tracer = Tracer(self.spark, self.prefix)
        self.tracer.install()
        self.run_pass("trace_warmup")
        traced = self.run_later("traced", share)
        self.tracer.wait_for_actions(self.actions_traced)
        time.sleep(0.5)  # let the streaming listener drain
        spans_path = self.tracer.write_spans()
        self.tracer.uninstall()
        self.stop()
        log_dir = os.path.join(WORK, "eventlog")
        log = parse_event_log(find_event_log(log_dir))
        per_pass, repeat = per_layer_metrics(self, traced, log)
        self.tracer = None
        for name, counts in repeat["mismatched"].items():
            self.failures.append({
                "op": name, "uid": "traced",
                "error": f"work counters differ across traced passes: {counts}",
            })
        if REFERENCE_WORKFLOW not in self.wl.ops and not any(
            p["io.load_tables_calls"] for p in per_pass
        ):
            self.failures.append({
                "op": "io.load_tables", "uid": "traced",
                "error": "the io.load_tables wrappers counted no calls",
            })

        self.set_up()
        self.run_pass("warmup")
        after = self.run_later("later", share)

        def baseline(key: str) -> float:
            return statistics.mean(
                statistics.median(p[key] for p in ps) for ps in (before, after)
            )

        per_layer = {
            k: statistics.median(p.get(k, 0.0) for p in per_pass) for k in PER_LAYER_UNITS
        }
        per_layer["session.get_spark_s"] = statistics.median(s[0] for s in setups)
        traced_cpu = statistics.median(p["cpu_s"] for p in traced)
        traced_wall = statistics.median(p["wall_s"] for p in traced)
        per_layer["trace.overhead"] = traced_cpu / baseline("cpu_s") - 1.0
        detail = {
            "spans": spans_path,
            "traced_pass_cpu_s": traced_cpu,
            "traced_pass_s": traced_wall,
            "wall_overhead": traced_wall / baseline("wall_s") - 1.0,
            "per_pass": per_pass,
            "counters_repeat": repeat,
        }
        return per_layer, detail, after

    # -- teardown ------------------------------------------------------
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def session_settings(self) -> dict:
        conf = self.spark.sparkContext.getConf()
        keys = ("spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
                "spark.ui.showConsoleProgress", "spark.driver.extraJavaOptions")
        return {k: conf.get(k) for k in keys}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


class _Capture:
    """Hands ``compare_one`` the already-built DataFrame and keeps the
    pandas frame it materialises (for the output-size metric)."""

    def __init__(self, df):
        self.df = df
        self.pdf = None

    def toPandas(self):  # noqa: N802 - DataFrame API name
        if self.pdf is None:
            self.pdf = self.df.toPandas()
        return self.pdf


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print("perfbench: run from the root of a checkout of the program", file=sys.stderr)
        return 2
    settings = configure_environment()
    try:
        import __spark_entry__  # noqa: F401
        import tools.check_oracle  # noqa: F401
    except Exception as exc:  # noqa: BLE001
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        return 2

    bench = Bench(args, settings)
    try:
        result = bench.run()
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        bench.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)
    if not args.trace:
        for name, value in bench.ungated.items():
            print(f"{name} {value:.6g} {UNGATED_UNITS[name]} (not gated)")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
