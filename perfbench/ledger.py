"""Per-layer ledger: the benchmark's spans joined to Spark's event log.

Each call the benchmark makes into the package ran under its own Spark job
group (``tracing.Tracer``), so every job in the event log names the call
that launched it; stages and tasks follow from their job. SQL executions
are joined through their jobs' ``spark.sql.execution.id``. Only calls of the
measured phase count. Reads either event-log layout: Spark 4's rolling
``eventlog_v2_<app>/events_<n>_<app>`` directory or a single ``<app>`` file.

Totals are over the measured phase; ``*_per_call`` and the per-call times
(``spark.planning_s``, ``spark.driver_outside_jobs_s``,
``operators.store_meta.load_s``) are means over its calls; a function's
``wall_s`` is the mean wall of its measured calls.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict

from tracing import LOADER_SPAN, interval_union

PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_BACK = "data returned from Python workers"


def event_files(log_dir: str, app_id: str) -> list[str]:
    """The event-log files of ``app_id`` in replay order."""
    rolled = os.path.join(log_dir, f"eventlog_v2_{app_id}")
    if os.path.isdir(rolled):
        files = glob.glob(os.path.join(rolled, "events_*"))
        return sorted(files, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
    for name in (app_id, app_id + ".inprogress"):
        if os.path.isfile(os.path.join(log_dir, name)):
            return [os.path.join(log_dir, name)]
    raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")


def read_events(log_dir: str, app_id: str):
    for path in event_files(log_dir, app_id):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


class EventLog:
    """Jobs, stages, tasks and SQL executions of one application."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stages_done: dict[int, list[int]] = defaultdict(list)  # job -> completed stage ids
        self.tasks: dict[int, list[dict]] = defaultdict(list)  # job -> task-end events
        self.sql_start: dict[int, float] = {}
        for e in events:
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "sql": props.get("spark.sql.execution.id"),
                    "start": e["Submission Time"] / 1000.0,
                    "end": None,
                }
                for sid in e["Stage IDs"]:
                    self.stage_job[sid] = e["Job ID"]
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                sid = e["Stage Info"]["Stage ID"]
                if sid in self.stage_job:
                    self.stages_done[self.stage_job[sid]].append(sid)
            elif kind == "SparkListenerTaskEnd":
                sid = e["Stage ID"]
                if sid in self.stage_job:
                    self.tasks[self.stage_job[sid]].append(e)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                self.sql_start[e["executionId"]] = e["time"] / 1000.0

    def jobs_of(self, call_id: str) -> list[int]:
        return [j for j, rec in self.jobs.items() if rec["group"] == call_id]


def _task_sums(tasks: list[dict]) -> dict[str, float]:
    s: dict[str, float] = defaultdict(float)
    for t in tasks:
        m = t.get("Task Metrics") or {}
        info = t["Task Info"]
        s["tasks"] += 1
        s["failures"] += bool(info.get("Failed")) or t["Task End Reason"].get("Reason") != "Success"
        s["run_ms"] += m.get("Executor Run Time", 0)
        s["cpu_ns"] += m.get("Executor CPU Time", 0)
        s["gc_ms"] += m.get("JVM GC Time", 0)
        s["result_bytes"] += m.get("Result Size", 0)
        s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics") or {}
        s["in_bytes"] += inp.get("Bytes Read", 0)
        s["in_records"] += inp.get("Records Read", 0)
        s["scan_tasks"] += inp.get("Records Read", 0) > 0
        out = m.get("Output Metrics") or {}
        s["out_bytes"] += out.get("Bytes Written", 0)
        s["out_records"] += out.get("Records Written", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for a in info.get("Accumulables", []):
            name = a.get("Name")
            if name == PY_RUN:
                s["py_run_ms"] += float(a["Update"])
            elif name in PY_BOOT:
                s["py_boot_ms"] += float(a["Update"])
            elif name == PY_SENT:
                s["py_sent"] += float(a["Update"])
            elif name == PY_BACK:
                s["py_back"] += float(a["Update"])
    return s


def build(log_dir: str, app_id: str, tracer, client, session_s: float, files: int, rss: float) -> dict:
    """Named per-layer metrics: name -> (value, unit)."""
    log = EventLog(read_events(log_dir, app_id))
    calls = tracer.calls("measure")
    n_calls = max(len(calls), 1)
    wall = sum(c["wall_s"] for c in calls)
    tot: dict[str, float] = defaultdict(float)
    planning = outside = 0.0
    for call in calls:
        jobs = log.jobs_of(call["call_id"])
        tot["jobs"] += len(jobs)
        intervals = []
        first_job: dict[str, float] = {}
        for j in jobs:
            rec = log.jobs[j]
            tot["stages"] += len(log.stages_done[j])
            for k, v in _task_sums(log.tasks[j]).items():
                tot[k] += v
            intervals.append((rec["start"], rec["end"] or rec["start"]))
            if rec["sql"] is not None:
                first_job[rec["sql"]] = min(first_job.get(rec["sql"], rec["start"]), rec["start"])
        for ex, t in first_job.items():
            if int(ex) in log.sql_start:
                planning += max(0.0, t - log.sql_start[int(ex)])
        outside += call["wall_s"] - interval_union(intervals)
        tot["rows_out"] += call.get("rows") or 0

    loads = [s for s in tracer.spans if s["name"] == LOADER_SPAN and s["phase"] == "measure"]
    walls: dict[str, list[float]] = defaultdict(list)
    for call in calls:
        walls[call["name"]].append(call["wall_s"])
    items = max(client.items, 1)
    rows_out = tot["rows_out"] + tot["out_records"]
    out = {
        "session.start_s": (session_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "sources.input_bytes": (tot["in_bytes"], "bytes"),
        "sources.input_records": (tot["in_records"], "count"),
        "sources.scan_tasks": (tot["scan_tasks"], "count"),
        "functions.python_run_s": (tot["py_run_ms"] / 1e3, "s"),
        "functions.python_boot_s": (tot["py_boot_ms"] / 1e3, "s"),
        "functions.bytes_to_python": (tot["py_sent"], "bytes"),
        "functions.bytes_from_python": (tot["py_back"], "bytes"),
        "operators.store_meta.load_s": (sum(s["wall_s"] for s in loads) / n_calls, "s"),
        "operators.store_meta.loads_per_call": (len(loads) / n_calls, "count"),
        "operators.store.bytes_written_per_row": (tot["out_bytes"] / items, "bytes"),
        "operators.store.files": (files, "count"),
        "operators.rows_examined_per_result": (tot["in_records"] / max(rows_out, 1), "ratio"),
        "spark.jobs_per_call": (tot["jobs"] / n_calls, "count"),
        "spark.stages_per_call": (tot["stages"] / n_calls, "count"),
        "spark.tasks_per_call": (tot["tasks"] / n_calls, "count"),
        "spark.planning_s": (planning / n_calls, "s"),
        "spark.driver_outside_jobs_s": (outside / n_calls, "s"),
        "spark.result_bytes": (tot["result_bytes"], "bytes"),
        "spark.executor_run_s": (tot["run_ms"] / 1e3, "s"),
        "spark.executor_cpu_s": (tot["cpu_ns"] / 1e9, "s"),
        "spark.effective_parallelism": (tot["run_ms"] / 1e3 / max(wall, 1e-9), "ratio"),
        "spark.shuffle_read_bytes": (tot["shuffle_read"], "bytes"),
        "spark.shuffle_write_bytes": (tot["shuffle_write"], "bytes"),
        "spark.spill_bytes": (tot["spill"], "bytes"),
        "spark.gc_s": (tot["gc_ms"] / 1e3, "s"),
        "spark.task_failures": (tot["failures"], "count"),
    }
    for name in FUNCTION_SPANS:
        w = walls.get(name, [])
        out[f"{name}.wall_s"] = (sum(w) / len(w) if w else 0.0, "s")
    return out


# Every public package call a workload makes in its measured phase.
FUNCTION_SPANS = (
    "pipelines.embed_documents",
    "pipelines.curate_corpus",
    "operators.dedup.embedding_near_dup_fast",
    "operators.knn.knn_batch_fast",
    "operators.bm25_store.bm25_store_batch_topk",
    "operators.bm25_store.rm3_store_batch_topk",
    "operators.fusion.hybrid_batch_search",
    "operators.bm25_store.upsert_bm25_store",
    "operators.bm25_store.delete_from_bm25_store",
    "operators.bm25_store.live_bm25_topk",
    "operators.bm25_store.compact_bm25_store",
    "operators.index_maintenance.upsert_ivf_sq8_store",
    "operators.index_maintenance.delete_from_ivf_sq8_store",
    "operators.index_maintenance.live_ivf_sq8_topk",
    "operators.index_maintenance.compact_ivf_sq8_store",
)
