"""Steadiness report: runs the benchmark several times per workload, each
run with another seed, and reports every end-to-end metric's median and
quartiles with its spread (quartile distance over the median) against the
metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--workload NAME] [--first-seed 1]

Each run's load average, stolen CPU share and arrival-generator lateness
are recorded with it. A run is flagged invalid when the host took more
than MAX_STOLEN of its CPU time or the generator ran more than MAX_LATE_S
behind schedule: its figures say more about the box than about the code,
and a slow invalid run is not read as a regression. The last line of
standard output is the whole report as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path and os.path.abspath(sys.path[0]) == os.path.join(ROOT, "perfbench"):
    sys.path.pop(0)
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402

MAX_STOLEN = 0.10
MAX_LATE_S = 0.5


def run_once(workload: str, seed: int, seconds: int) -> dict:
    """One untraced run; returns its detail and metrics (or its error)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"seed": seed, "error": f"exit {proc.returncode}: {proc.stderr.strip()[-500:]}"}
    detail = json.loads(lines[-2])["detail"]
    result = json.loads(lines[-1])
    late = detail.get("generator_late_max_s") or 0.0
    invalid = []
    if detail["cpu_stolen_frac"] > MAX_STOLEN:
        invalid.append(f"host took {detail['cpu_stolen_frac']:.0%} of the CPU")
    if late > MAX_LATE_S:
        invalid.append(f"generator ran {late:.2f} s late")
    return {
        "seed": seed,
        "correct": result["correct"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "loadavg_start": detail["loadavg_start"],
        "cpu_stolen_frac": detail["cpu_stolen_frac"],
        "generator_late_max_s": late,
        "invalid": invalid,
    }


def summarise(runs: list[dict]) -> dict:
    """Median, quartiles and spread of each end-to-end metric, over every
    run that finished and over the valid ones only."""
    done = [r for r in runs if "error" not in r]
    out = {}
    for subset, chosen in (("all", done), ("valid", [r for r in done if not r["invalid"]])):
        for name, _, _, bound in metrics.END_TO_END:
            values = [r["metrics"][name] for r in chosen]
            if len(values) < 2:
                continue
            q1, med, q3 = statistics.quantiles(values, n=4)
            out.setdefault(subset, {})[name] = {
                "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "bound": bound,
                "runs": len(values),
            }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    names = [n for n, _ in metrics.WORKLOADS]
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", choices=names, action="append")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    report = {}
    for wl in args.workload or names:
        runs = []
        for i in range(args.runs):
            r = run_once(wl, args.first_seed + i, metrics.RUN_SECONDS)
            runs.append(r)
            print(wl, json.dumps(r), flush=True)
        report[wl] = {"runs": runs, "metrics": summarise(runs)}
        for subset, table in report[wl]["metrics"].items():
            for name, s in table.items():
                print(f"{wl:16s} {subset:5s} {name:12s} median {s['median']:10.3f}  "
                      f"q1 {s['q1']:10.3f}  q3 {s['q3']:10.3f}  spread {s['spread']:.3f} "
                      f"(bound {s['bound']}, {s['runs']} runs)", flush=True)
    print(json.dumps(report))
    ok = all(
        "error" not in r and r["correct"] for w in report.values() for r in w["runs"]
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
