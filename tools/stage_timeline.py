"""Per-SQL-execution, per-stage timeline of a Spark event log.

Run: python tools/stage_timeline.py EVENTLOG_DIR [JOB_GROUP]

EVENTLOG_DIR is a ``spark.eventLog.dir`` (uncompressed logs, either Spark
4's rolling ``eventlog_v2_<app>/events_<n>_<app>`` layout or one file per
application). JOB_GROUP keeps only the jobs launched under that
``spark.jobGroup.id``. For every application the script prints each SQL
execution (jobs outside any SQL execution are grouped under ``-``) and,
under it, each stage that ran: start and end offsets in seconds from the
first selected job's submission, tasks, executor run and CPU seconds,
input records, and shuffle read and write bytes. A closing line sums the
selected stages. Stdlib only, so it runs next to any Spark install.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections import defaultdict


def _apps(log_dir: str) -> dict[str, list[str]]:
    """Application name -> its event files in replay order."""
    apps: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            files = glob.glob(os.path.join(path, "events_*"))
            apps[entry[len("eventlog_v2_"):]] = sorted(
                files, key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1))
            )
        elif os.path.isfile(path) and not entry.startswith("."):
            apps[entry] = [path]
    return apps


def _events(files: list[str]):
    for path in files:
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def timeline(events, job_group: str | None = None) -> list[str]:
    """The report lines for one application's events."""
    job_sql: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    sql_desc: dict[str, str] = {}
    stage_info: dict[int, dict] = {}
    sums: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if job_group is not None and props.get("spark.jobGroup.id") != job_group:
                continue
            jid = e["Job ID"]
            job_sql[jid] = props.get("spark.sql.execution.id") or "-"
            job_start[jid] = e["Submission Time"] / 1000.0
            for sid in e["Stage IDs"]:
                stage_job[sid] = jid
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql_desc[str(e["executionId"])] = e.get("description", "")
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if info["Stage ID"] in stage_job:
                stage_info[info["Stage ID"]] = info
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            m = e.get("Task Metrics") or {}
            s = sums[e["Stage ID"]]
            s["tasks"] += 1
            s["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            s["in_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            s["shuffle_read"] += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    if not job_start:
        return ["no jobs" + (f" in job group {job_group!r}" if job_group else "")]
    t0 = min(job_start.values())
    by_sql: dict[str, list[int]] = defaultdict(list)
    for sid in sorted(stage_info, key=lambda s: (stage_info[s].get("Submission Time", 0), s)):
        by_sql[job_sql[stage_job[sid]]].append(sid)
    head = f"    {'stage':>6} {'start_s':>8} {'end_s':>8} {'tasks':>6} {'run_s':>8} {'cpu_s':>8} {'in_rec':>9} {'shuf_rd':>10} {'shuf_wr':>10}"
    lines, total = [], defaultdict(float)
    for sql, sids in by_sql.items():
        jobs = sorted({stage_job[s] for s in sids})
        desc = sql_desc.get(sql, "")[:60]
        lines.append(f"sql {sql} jobs {jobs} {desc}")
        lines.append(head)
        for sid in sids:
            info, s = stage_info[sid], sums[sid]
            start = info.get("Submission Time", 0) / 1000.0 - t0
            end = info.get("Completion Time", 0) / 1000.0 - t0
            lines.append(
                f"    {sid:>6} {start:>8.2f} {end:>8.2f} {int(s['tasks']):>6} {s['run_s']:>8.2f} "
                f"{s['cpu_s']:>8.2f} {int(s['in_records']):>9} {int(s['shuffle_read']):>10} "
                f"{int(s['shuffle_write']):>10}"
            )
            total["stages"] += 1
            for k, v in s.items():
                total[k] += v
    lines.append(
        f"total: {len(by_sql)} sql executions, {len(job_start)} jobs, {int(total['stages'])} stages, "
        f"{int(total['tasks'])} tasks, run {total['run_s']:.2f} s, cpu {total['cpu_s']:.2f} s, "
        f"input records {int(total['in_records'])}, shuffle read {int(total['shuffle_read'])} B, "
        f"shuffle write {int(total['shuffle_write'])} B"
    )
    return lines


def main(argv: list[str]) -> int:
    if len(argv) not in (2, 3):
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    job_group = argv[2] if len(argv) == 3 else None
    apps = _apps(argv[1]) if os.path.isdir(argv[1]) else {}
    if not apps:
        print(f"no event logs under {argv[1]}", file=sys.stderr)
        return 1
    for app, files in apps.items():
        print(f"== {app}")
        for line in timeline(_events(files), job_group):
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
