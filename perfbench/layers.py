"""Turn a traced run's spans, listener records and event log into the
per-layer metrics, one dict per traced later pass.

Layer names follow the repository's modules (``io``, ``sinks``,
``plans``, ``operators``, ``cache``, ``streaming``, ``session``);
``catalyst``, ``engine`` and ``python`` are Spark-side layers with no
module of their own. Which end-to-end metric each layer should move,
and on which workload, is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import bisect
from collections import defaultdict

from tracing import union_seconds
from workloads import REFERENCE_WORKFLOW

_ENGINE_SUMS = {
    "engine.executor_run_s": "executor_run_s",
    "engine.executor_cpu_s": "executor_cpu_s",
    "engine.gc_s": "gc_s",
    "engine.shuffle_write_bytes": "shuffle_write_bytes",
    "engine.shuffle_read_records": "shuffle_read_records",
    "engine.spill_bytes": "spill_bytes",
    "engine.tasks": "tasks",
    "engine.stages": "stages",
}

_STREAM_PHASES = {
    "streaming.add_batch_s": "addBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.latest_offset_s": "latestOffset",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}


class _Windows:
    """Phase windows of the traced operations, searchable by time."""

    def __init__(self, windows: list[tuple]):
        self.items = sorted(windows, key=lambda w: w[2])
        self.starts = [w[2] for w in self.items]

    def find(self, t: float) -> tuple | None:
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.items[i][3] + 0.002:
            return self.items[i]
        return None


def attribute_jobs(jobs: dict, windows: _Windows) -> dict:
    """(uid, phase) -> list of jobs. Own job groups first; foreign
    groups (workflow, streaming run ids) by submission time."""
    out: dict[tuple, list] = defaultdict(list)
    for job in jobs.values():
        group = job.get("group") or ""
        if group.startswith("pb:"):
            _, uid, phase = group.split(":")
            out[(uid, phase)].append(job)
            continue
        w = windows.find(job["submit"])
        if w is not None:
            out[(w[0], w[1])].append(job)
    return out


def per_layer_metrics(bench, traced_passes: list[dict], log: dict):
    tracer = bench.tracer
    windows = _Windows(bench.windows)
    jobs_by_phase = attribute_jobs(log["jobs"], windows)
    # k-th noop write event <-> k-th traced action, in order
    action_uids = [
        o["uid"] for p in bench.passes for o in p["ops"] if o["traced"] and o.get("noop")
    ]
    planning = dict(zip(action_uids, tracer.qe_events))
    progress_by_uid: dict[str, list] = defaultdict(list)
    for ev in tracer.progress:
        w = windows.find(ev["t"])
        if w is not None:
            progress_by_uid[w[0]].append(ev)
    cpus = int(bench.settings["SPARK_GRAFT_CPUS"])

    per_pass = []
    op_counters: dict[str, list[tuple]] = defaultdict(list)
    for p in traced_passes:
        m = defaultdict(float)
        m["wall_s"] = p["wall_s"]
        for o in p["ops"]:
            uid = o["uid"]
            layer = tracer.layer.get(uid, {})
            call_jobs = jobs_by_phase.get((uid, "call"), [])
            all_jobs = call_jobs + jobs_by_phase.get((uid, "action"), [])
            for metric in ("io.load_tables_s", "io.load_tables_calls", "io.write_run_s",
                           "io.write_run_bytes", "io.latest_run_s", "sinks.write_s",
                           "sinks.bytes"):
                m[metric] += layer.get(metric, 0.0)
            m["cache.persists"] += layer.get("cache.persist_calls", 0.0)
            m["cache.mem_bytes_peak"] = max(m["cache.mem_bytes_peak"], o.get("cache_mem_bytes", 0))
            m["cache.disk_bytes_peak"] = max(m["cache.disk_bytes_peak"], o.get("cache_disk_bytes", 0))
            if o["op"] == REFERENCE_WORKFLOW:
                for j in o.get("jobs", []):
                    key = "plans.job_a_s" if j["job"].startswith("job-a") else "plans.job_b_s"
                    m[key] += j["elapsed_s"]
                    m["plans.job_attempts"] += j["attempts"]
                    if isinstance(j["result"], dict):
                        m["sinks.items"] += j["result"].get("items_written", 0)
            else:
                m["operators.build_s"] += o["call_s"]
                covered = union_seconds([
                    (j["submit"], j["end"]) for j in call_jobs if j["end"] is not None
                ])
                m["operators.build_self_s"] += max(0.0, o["call_s"] - covered)
                m["operators.build_py4j_calls"] += o.get("py4j_calls", 0)
                m["operators.build_jobs"] += len(call_jobs)
                m["engine.action_s"] += o["action_s"]
            phases = planning.get(uid, {})
            m["catalyst.analysis_s"] += phases.get("analysis", 0.0)
            m["catalyst.optimization_s"] += phases.get("optimization", 0.0)
            m["catalyst.planning_s"] += phases.get("planning", 0.0)
            m["engine.jobs"] += len(all_jobs)
            for metric, key in _ENGINE_SUMS.items():
                m[metric] += sum(j.get(key, 0.0) for j in all_jobs)
            m["python.udf_s"] += sum(j.get("python_udf_ms", 0.0) for j in all_jobs) / 1000.0
            m["python.bytes_to_worker"] += sum(j.get("python_bytes_to_worker", 0.0) for j in all_jobs)
            m["python.bytes_from_worker"] += sum(j.get("python_bytes_from_worker", 0.0) for j in all_jobs)
            events = progress_by_uid.get(uid, [])
            trigger_s = sum(e["ms"].get("triggerExecution", 0) for e in events) / 1000.0
            m["streaming.batches"] += len(events)
            m["_empty_batches"] += sum(1 for e in events if e["rows"] == 0)
            m["_trigger_s"] += trigger_s
            for metric, key in _STREAM_PHASES.items():
                m[metric] += sum(e["ms"].get(key, 0) for e in events) / 1000.0
            if events:
                m["streaming.start_stop_s"] += o["wall_s"] - trigger_s
                last = {}
                for e in events:
                    last[e["run_id"]] = e["state_rows"]
                m["streaming.state_rows"] += sum(last.values())
            op_counters[o["op"]].append((
                o.get("py4j_calls", 0), len(all_jobs),
                sum(j.get("tasks", 0) for j in all_jobs),
                sum(j.get("shuffle_read_records", 0) for j in all_jobs),
            ))
        empty, trig = m.pop("_empty_batches"), m.pop("_trigger_s")
        batches = m["streaming.batches"]
        m["streaming.empty_batch_share"] = empty / batches if batches else 0.0
        m["streaming.overhead_share"] = 1.0 - m["streaming.add_batch_s"] / trig if trig else 0.0
        m["engine.busy_share"] = m["engine.executor_run_s"] / (p["wall_s"] * cpus)
        per_pass.append(dict(m))
    mismatched = {
        name: counts for name, counts in op_counters.items() if len(set(counts)) > 1
    }
    repeat = {
        "counters": ["py4j_calls", "jobs", "tasks", "shuffle_read_records"],
        "passes": len(traced_passes),
        "equal": not mismatched,
        "mismatched": mismatched,
    }
    return per_pass, repeat
