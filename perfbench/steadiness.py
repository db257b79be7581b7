"""Run the untraced suite repeatedly and report how steady it is.

Usage (from the repository root)::

    python3 perfbench/steadiness.py --runs 10 [--workloads pit_backfill ...]
        [--first-seed 1] [--seconds 10]

Each run uses its own seed (``first-seed``, ``first-seed + 1``, ...).
For every workload and end-to-end metric it prints the median, the
quartiles (``statistics.quantiles(n=4)``) and the spread, which is the
interquartile distance as a share of the median, next to the metric's
bound from ``BENCHMARK.json``. Every sample keeps its provenance (nproc,
load average at start and end, Spark and Python versions, seed). The
full record is written to ``.perfbench/steadiness.json``; it is the
evidence for the bounds in ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "returncode": p.returncode,
                "stderr": p.stderr[-2000:]}
    summary, result = json.loads(lines[-2]), json.loads(lines[-1])
    return {"seed": seed, "result": result,
            "provenance": summary["provenance"],
            "samples": summary["samples"], "pass_s": summary["pass_s"],
            "pass_cpu_s": summary["pass_cpu_s"],
            "error_rate": summary["error_rate"]}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    args = ap.parse_args(argv)

    report = {}
    ok = True
    for w in args.workloads:
        runs = []
        for i in range(args.runs):
            r = run_once(w, args.first_seed + i, args.seconds)
            runs.append(r)
            print(json.dumps({"workload": w, **r}), flush=True)
        good = [r for r in runs if r.get("result", {}).get("correct")]
        stats = {}
        if len(good) >= 2:
            for name in bounds:
                stats[name] = spread([r["result"]["metrics"][name]["value"]
                                      for r in good])
        report[w] = {"runs": runs, "stats": stats,
                     "correct_runs": len(good)}
        ok &= len(good) == len(runs)

    print(f"\n{'workload':17} {'metric':12} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}")
    for w, rep in report.items():
        print(f"{w:17} correct runs: {rep['correct_runs']}/{args.runs}")
        for name, s in rep["stats"].items():
            flag = "" if name == "setup_s" or s["spread"] <= bounds[name] / 3 \
                else "  > bound/3"
            print(f"{w:17} {name:12} {s['median']:12.4f} {s['q1']:12.4f} "
                  f"{s['q3']:12.4f} {s['spread']:7.3f} {bounds[name]:6.2f}"
                  f"{flag}")
    out = os.path.join(ROOT, ".perfbench", "steadiness.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\nwritten to {os.path.relpath(out, ROOT)}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
