"""Steadiness report: repeated runs of ``run.py`` over different seeds.

    python3 perfbench/steady.py --runs 10 --out perfbench/STEADINESS.md

Run from the root of a checkout. For every workload in ``BENCHMARK.json``
it makes ``--runs`` untraced runs with seeds ``--seed0`` .. ``--seed0 +
runs - 1`` and prints, per end-to-end metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``), the spread (Q3 - Q1) / median and
the metric's bound. With ``--traced N`` it also makes N traced runs per
workload, all with seed ``--seed0``, reports the tracing overhead (the
traced median minus the untraced median of each end-to-end metric) and
checks that the deterministic counts (``DETERMINISTIC``) repeat exactly
across the traced runs. Any run that exits non-zero or
reports ``correct: false`` is listed and fails the report.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
DETERMINISTIC = (
    "spark.jobs_per_call", "spark.stages_per_call", "spark.tasks_per_call",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "sources.input_records",
)
DROPPED = (
    "`serve_batch` and `store_maintain` were folded into `serve_maintain`: three "
    "workloads need about 150 s of run wall per seed on a 4-core host, and the "
    "benchmark's 4 + 22 x W runs must fit in 3420 s."
)
LINE = re.compile(r"^(\S+)\s+(-?[0-9.]+(?:e[-+]?\d+)?)\s+(\S+)")


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return {"ok": False, "wall": wall, "error": p.stderr[-2000:]}
    res = json.loads(lines[-1])
    printed = {}
    for ln in lines[:-1]:
        m = LINE.match(ln)
        if m:
            printed[m.group(1)] = float(m.group(2))
    return {"ok": bool(res["correct"]), "wall": wall, "result": res, "printed": printed}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--workloads", nargs="*", default=None)
    ap.add_argument("--out", default=None, help="write the report (markdown) here")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    names = args.workloads or [w["name"] for w in spec["workloads"]]
    report = [f"# Steadiness: {args.runs} untraced runs per workload, seeds "
              f"{args.seed0}..{args.seed0 + args.runs - 1}, --seconds {spec['run_seconds']}", "",
              "Workloads kept: " + ", ".join(f"`{w['name']}` ({w['why']})" for w in spec["workloads"]) + ".",
              "", "Dropped: " + DROPPED, ""]
    bad = []
    for wl in names:
        runs = [one_run(wl, args.seed0 + i, spec["run_seconds"], 0) for i in range(args.runs)]
        bad += [(wl, i, r.get("error", "correct=false")) for i, r in enumerate(runs) if not r["ok"]]
        good = [r for r in runs if r["ok"]]
        report += [f"## {wl}", "",
                   f"run wall (s): median {statistics.median(r['wall'] for r in runs):.1f}, "
                   f"max {max(r['wall'] for r in runs):.1f}; correct runs {len(good)}/{len(runs)}", "",
                   "| metric | unit | median | Q1 | Q3 | spread | bound | bound/3 |",
                   "|---|---|---|---|---|---|---|---|"]
        medians = {}
        for m in bounds:
            vals = [r["result"]["metrics"][m]["value"] for r in good]
            if len(vals) < 2:
                continue
            q1, med, q3 = quartiles(vals)
            medians[m] = med
            report.append(f"| {m} | {units[m]} | {med:.6g} | {q1:.6g} | {q3:.6g} | "
                          f"{(q3 - q1) / med:.4f} | {bounds[m]} | {bounds[m] / 3:.4f} |")
        report.append("")
        if args.traced:
            traced = [one_run(wl, args.seed0, spec["run_seconds"], 1) for i in range(args.traced)]
            bad += [(wl, f"traced {i}", r.get("error", "correct=false"))
                    for i, r in enumerate(traced) if not r["ok"]]
            report += ["| metric | traced median | untraced median | tracing overhead |", "|---|---|---|---|"]
            for m, med in medians.items():
                tv = [r["printed"][m] for r in traced if r["ok"] and m in r["printed"]]
                if tv:
                    t = statistics.median(tv)
                    report.append(f"| {m} | {t:.6g} | {med:.6g} | {t - med:+.6g} ({(t - med) / med:+.1%}) |")
            report += ["", f"Deterministic counts over {args.traced} traced runs of seed {args.seed0}:", "",
                       "| count | values | repeats |", "|---|---|---|"]
            for m in DETERMINISTIC:
                vals = [r["result"]["metrics"][m]["value"] for r in traced if r["ok"]]
                same = len(set(vals)) == 1
                if not same:
                    bad.append((wl, m, f"{m} differs across traced runs: {vals}"))
                report.append(f"| {m} | {', '.join(f'{v:g}' for v in vals)} | {'yes' if same else 'NO'} |")
            report.append("")
        print(f"{wl} done", flush=True)
    if bad:
        report += ["## Failed runs", ""] + [f"- {wl} run {i}: {err.splitlines()[-1] if err else ''}"
                                           for wl, i, err in bad]
    text = "\n".join(report) + "\n"
    if args.out:
        with open(args.out, "w") as f:
            f.write(text)
    print(text)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
