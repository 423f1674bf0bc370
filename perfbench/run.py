"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload corpus_batch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout: the package is imported from the current
directory and every file the run writes goes under ``.perfbench_work/``
there. The output checks always run. With ``--trace 0`` the last line of
standard output is a JSON object whose ``metrics`` are the end-to-end
metrics. With ``--trace 1`` the Spark event log is on, exactly
``TRACE_UNITS`` units run, ``metrics`` are the per-layer metrics of the
ledger, and spans + ledger are also written to
``.perfbench_work/<workload>-seed<seed>-trace.json``. The lines before the
JSON print every metric by name with its unit. Exits 2, printing no JSON,
when the package is not in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

CPUS = min(4, os.cpu_count() or 1)
WORK_DIR = ".perfbench_work"
TRACE_UNITS = 1  # a fixed unit count, so the traced run's counts repeat


def tail(samples: list[float]) -> float:
    """The slowest sample. The tail is the highest percentile with at least
    ten samples beyond it; a run makes far fewer than the 100 calls that
    would put that percentile above p90, so the slowest call stands in."""
    return max(samples)


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:  # the process is gone
        return []


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def peak_rss_mb() -> float:
    """VmHWM of this process plus its child processes (the JVM), from /proc."""
    def hwm_kb(pid: int) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    return sum(hwm_kb(p) for p in [os.getpid()] + _children(os.getpid())) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, close its JVM and wait until the JVM and every
    process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    procs, frontier = [], [os.getpid()]
    while frontier:
        frontier = [k for p in frontier for k in _children(p)]
        procs += frontier
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.1)


def environment(work: str, traced: bool) -> None:
    """Spark settings the run needs, set in this process's environment so
    the package's session factory is called unchanged."""
    root = os.getcwd()
    # Python workers import the package from the checkout root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    # every JVM, the launcher's too: temp files in the run dir, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
    }
    if traced:
        logs = os.path.join(work, "eventlog")
        os.makedirs(logs)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + logs,
        })
    args = " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = args + " pyspark-shell"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "photo_vector_search_spark", "__init__.py")):
        print(f"photo_vector_search_spark not found under {root}; run from a checkout root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from workloads import WORKLOADS, Client

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    traced = bool(args.trace)
    work = os.path.join(root, WORK_DIR, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    environment(work, traced)

    from tracing import Tracer

    from photo_vector_search_spark.session import get_spark

    start = time.time()
    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()  # the session is usable once its first job has run
    session_s = time.perf_counter() - t0
    app_id = spark.sparkContext.applicationId

    tracer = Tracer(spark.sparkContext, traced)
    tracer.spans.append({"id": 0, "name": "session.get_spark", "phase": "setup", "parent": None,
                         "call_id": "session", "rows": None, "start": start,
                         "end": start + session_s, "wall_s": session_s})
    c = Client(spark, tracer, work, args.seed)
    try:
        if traced:
            tracer.wrap_loaders()
        t1 = time.perf_counter()
        reps = wl.setup(c)
        setup_s = session_s + statistics.median(reps) + (time.perf_counter() - t1 - sum(reps))

        t2 = time.perf_counter()
        units = 0
        while True:
            wl.unit(c, units)
            units += 1
            elapsed = time.perf_counter() - t2
            if (units >= TRACE_UNITS) if traced else (elapsed >= args.seconds):
                break
        tracer.unwrap_loaders()
        # before the checks, whose reference twins would add their own memory
        rss = peak_rss_mb()

        t3 = time.perf_counter()
        with tracer.span("perfbench.check", "check"):
            # the twins are independent jobs, mostly driver-bound: overlap them
            with ThreadPoolExecutor(CPUS) as pool:
                for done in [pool.submit(chk) for chk in c.to_check]:
                    done.result()
            wl.check(c)
        space_amp, files = wl.space(c)
        t4 = time.perf_counter()
    finally:
        stop_spark(spark)
    phases = (f"setup {t2 - t0:.1f}, measured {t3 - t2:.1f}, checks {t4 - t3:.1f}, "
              f"teardown {time.perf_counter() - t4:.1f}")

    walls = [w for _kind, w in c.latency]
    e2e = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (c.items / elapsed, "1/s"),
        "latency_p50_s": (statistics.median(walls), "s"),
        "latency_tail_s": (tail(walls), "s"),
        "space_amp": (space_amp, "ratio"),
    }
    failed = len(c.failures)
    for f in c.failures:
        print(f"FAILED CHECK: {f}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} trace={args.trace} units={units} items={c.items} "
          f"(latency_tail_s = p100 of {len(walls)} calls; phase walls (s): {phases})")
    for k, (v, u) in e2e.items():
        print(f"{k:<40} {v:>16.6f} {u}")
    by_kind = {}
    for kind, w in c.latency:
        by_kind.setdefault(kind, []).append(w)
    for kind, kw in by_kind.items():  # the same figures per kind of call
        print(f"{kind + '_p50_s':<40} {statistics.median(kw):>16.6f} s")
        print(f"{kind + '_tail_s':<40} {tail(kw):>16.6f} s")
    for kind, (n, w) in c.kind_items.items():  # items ÷ the walls of the calls that carried them
        print(f"{kind + '_per_s':<40} {n / w:>16.6f} 1/s")
    print(f"{'ops_failed_ratio':<40} {failed / max(c.attempted, 1):>16.6f} ratio")
    print(f"{'peak_rss_mb':<40} {rss:>16.6f} MB")

    metrics = e2e
    if traced:
        import ledger

        metrics = ledger.build(os.path.join(work, "eventlog"), app_id, tracer, c, session_s, files, rss)
        for k, (v, u) in metrics.items():
            print(f"{k:<64} {v:>16.6f} {u}")
        for s in tracer.spans:
            s["self_s"] = tracer.self_time(s)
        with open(os.path.join(root, WORK_DIR, f"{args.workload}-seed{args.seed}-trace.json"), "w") as f:
            json.dump({"spans": tracer.spans, "e2e": e2e, "metrics": metrics, "failures": c.failures}, f, indent=1)
    shutil.rmtree(work)
    print(json.dumps({"correct": failed == 0, "attempted": c.attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
