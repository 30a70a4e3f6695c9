"""Per-layer tracing, measured from outside the program.

Everything here observes the engine through its public surface; no
module of ``training_etl_demo_2_spark`` is edited:

* **spans** — every operation and phase (``call`` = the registry call or
  ``Workflow.run``, ``action`` = the noop materialisation) plus every
  call into a wrapped layer function (``io.load_tables``,
  ``io.write_run``, ``io.latest_run``, ``sinks.write_keyed_parquet``,
  ``cache.tracked_persist``/``tracked_cache``) is a span with a name,
  start, end, parent span and the operation id it belongs to. Wrapping
  rebinds every module-level binding of the original function, so
  ``from ..io import load_tables`` call sites are seen too.
* **py4j** — the gateway client's ``send_command`` is counted for ``c``
  (call) commands sent from the benchmark's thread during the ``call``
  phase. GC-driven ``m`` (memory-delete) commands are not counted: they
  follow the Python garbage collector, not the code.
* **engine** — an uncompressed Spark event log, parsed after the session
  stops. Jobs are attributed to (operation, phase) by the per-operation
  job group ``pb:<op>:<phase>``; jobs in foreign groups (the workflow's
  own groups, a streaming query's run id) fall back to the phase whose
  time window holds their submission time — exact for a closed loop
  with one client.
* **catalyst** — a ``QueryExecutionListener`` reads the planning tracker
  of each noop write after it completes; the k-th noop write event is
  the k-th action.
* **streaming** — a ``StreamingQueryListener`` collects every progress
  event; events are attributed to operations by trigger time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PROGRAM_PREFIXES = ("training_etl_demo_2_spark", "__spark_entry__")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def rebind(orig, wrapper) -> list[tuple]:
    """Replace every module-level binding of ``orig`` in the program's
    modules with ``wrapper``; return the (module, name) pairs replaced."""
    replaced = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith(PROGRAM_PREFIXES) or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)
                replaced.append((mod, attr))
    return replaced


class Tracer:
    """Collects spans and layer counters for one traced session."""

    def __init__(self, spark, out_prefix: str):
        self.spark = spark
        self.out_prefix = out_prefix
        self.main_thread = threading.get_ident()
        self.spans: list[dict] = []
        self._next_span = 0
        self._local = threading.local()
        self.op_span: int | None = None
        self.op_uid: str | None = None
        self.counting_py4j = False
        self.py4j_calls = 0
        # per op uid: layer counters filled by the wrappers
        self.layer = defaultdict(lambda: defaultdict(float))
        self.qe_events: list[dict] = []
        self.progress: list[dict] = []
        self._lock = threading.Lock()
        self._restore: list[tuple] = []  # (module, name, original)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self.op_span
        with self._lock:
            sid = self._next_span
            self._next_span += 1
            self.spans.append({
                "id": sid, "name": name, "start": time.time(), "end": None,
                "parent": parent, "op": self.op_uid, **attrs,
            })
        stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> float:
        span = self.spans[sid]
        span["end"] = time.time()
        span.update(attrs)
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        return span["end"] - span["start"]

    def begin_op(self, uid: str, name: str) -> None:
        self.op_uid = uid
        self.op_span = None
        self.op_span = self.open("op", op_name=name)

    def end_op(self) -> None:
        self.close(self.op_span)
        self.op_span = None
        self.op_uid = None

    # -- wrappers ------------------------------------------------------
    def _wrap(self, orig, span_name: str, after=None):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            sid = tracer.open(span_name)
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                dt = tracer.close(sid)
                counters = tracer.layer[tracer.op_uid]
                counters[span_name + "_s"] += dt
                counters[span_name + "_calls"] += 1
                if after is not None:
                    after(counters, args, kwargs, result)

        return wrapper

    def install(self) -> None:
        from training_etl_demo_2_spark import cache, io
        from training_etl_demo_2_spark.sinks import keyvalue

        def run_bytes(counters, args, kwargs, result):
            if result is not None:
                counters["io.write_run_bytes"] += dir_bytes(os.path.dirname(result.data_path))

        def sink_bytes(counters, args, kwargs, result):
            path = kwargs.get("path", args[1] if len(args) > 1 else None)
            if path:
                counters["sinks.bytes"] += dir_bytes(path)

        for orig, name, after in (
            (io.load_tables, "io.load_tables", None),
            (io.write_run, "io.write_run", run_bytes),
            (io.latest_run, "io.latest_run", None),
            (keyvalue.write_keyed_parquet, "sinks.write", sink_bytes),
            (cache.tracked_persist, "cache.persist", None),
            (cache.tracked_cache, "cache.persist", None),
        ):
            for mod, attr in rebind(orig, self._wrap(orig, name, after)):
                self._restore.append((mod, attr, orig))
        self._install_py4j()
        self._install_listeners()

    def uninstall(self) -> None:
        """Put the original functions and gateway client back (the
        listeners die with the traced session)."""
        from pyspark import SparkContext

        for mod, attr, orig in self._restore:
            setattr(mod, attr, orig)
        self._restore.clear()
        client = SparkContext._gateway._gateway_client
        client.__dict__.pop("send_command", None)

    def _install_py4j(self) -> None:
        from pyspark import SparkContext

        client = SparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(command, *args, **kwargs):
            if (
                tracer.counting_py4j
                and command.startswith("c\n")
                and threading.get_ident() == tracer.main_thread
            ):
                tracer.py4j_calls += 1
            return orig(command, *args, **kwargs)

        client.send_command = send_command

    def _install_listeners(self) -> None:
        from pyspark import SparkContext
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        ensure_callback_server_started(SparkContext._gateway)
        tracer = self

        class PlanningListener:
            def onSuccess(self, funcName, qe, durationNs):
                if funcName != "overwrite":
                    return
                try:
                    if qe.logical().nodeName() != "OverwriteByExpression":
                        return
                    phases = qe.tracker().phases()
                    rec = {}
                    for k in ("analysis", "optimization", "planning"):
                        opt = phases.get(k)
                        rec[k] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
                except Exception as exc:  # noqa: BLE001 - keep the bus alive
                    rec = {"error": str(exc)[:200]}
                tracer.qe_events.append(rec)

            def onFailure(self, funcName, qe, exception):
                if funcName == "overwrite":
                    tracer.qe_events.append({"error": "action failed"})

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                tracer.progress.append({
                    "run_id": str(p.runId),
                    "t": _iso_epoch(p.timestamp),
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._planning_listener = PlanningListener()
        self.spark._jsparkSession.listenerManager().register(self._planning_listener)
        self.spark.streams.addListener(ProgressListener())

    def wait_for_actions(self, n_actions: int, timeout_s: float = 10.0) -> None:
        """The planning listener runs on Spark's asynchronous listener
        bus; wait until it has reported ``n_actions`` noop writes."""
        deadline = time.time() + timeout_s
        while len(self.qe_events) < n_actions and time.time() < deadline:
            time.sleep(0.02)

    def write_spans(self) -> str:
        path = self.out_prefix + "-spans.jsonl"
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        return path


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# -- event log -----------------------------------------------------------

def parse_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": 0,
                }
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_metrics[sid]["stages"] += 1
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                m = stage_metrics[info["Stage ID"]]
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    key = _PYTHON_ACCUMULATORS.get(name)
                    if key:
                        m[key] += float(acc.get("Value") or 0)
            elif kind == "SparkListenerTaskEnd":
                tm = ev.get("Task Metrics")
                m = stage_metrics[ev["Stage ID"]]
                m["tasks"] += 1
                if not tm:
                    continue
                m["executor_run_s"] += tm["Executor Run Time"] / 1000.0
                m["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                m["gc_s"] += tm["JVM GC Time"] / 1000.0
                m["spill_bytes"] += tm["Disk Bytes Spilled"]
                m["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                m["shuffle_read_records"] += tm["Shuffle Read Metrics"]["Total Records Read"]
    for sid, m in stage_metrics.items():
        jid = stage_job.get(sid)
        if jid is None:
            continue
        job = jobs[jid]
        job["stages"] += m.pop("stages", 0)
        for k, v in m.items():
            job[k] = job.get(k, 0.0) + v
    return {"jobs": jobs}


_PYTHON_ACCUMULATORS = {
    "data sent to Python workers": "python_bytes_to_worker",
    "data returned from Python workers": "python_bytes_from_worker",
    "time to run Python workers": "python_udf_ms",
}


def find_event_log(log_dir: str) -> str | None:
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if not f.startswith(".") and not f.endswith((".crc", ".inprogress")):
                return os.path.join(root, f)
    return None


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
