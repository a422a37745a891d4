"""Steadiness self-check: runs each workload with several seeds and
prints every end-to-end metric's spread next to its bound. Each run's
line also shows the host's steal seconds during the run.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workload NAME ...] [--traced 1]

Spread is the distance between the first and third quartile
(statistics.quantiles, n=4) as a share of the median. A spread under a
third of the bound is "ok", one under the bound "above bound/3", and
one at or over the bound "WIDE". With --sets 2 it makes a second
set of runs with other seeds after the first and prints both sets'
medians side by side; their difference, as a share of the first, is
"WIDE" at or over the bound. With --traced N it also makes N traced
runs per workload and prints the tracing overhead and the share of each
pass no layer span covers. Exits 1 if a run fails or a figure is WIDE.
Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.monotonic() - t
    out["steal_s"] = json.loads(lines[-2])["host"]["steal_s"]
    return out


def spread(values: list[float]) -> float:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def verdict(x: float, bound: float) -> str:
    if x < bound / 3:
        return "ok"
    return "above bound/3" if x < bound else "WIDE"


def run_set(spec: dict, names: list[str], runs: int, first_seed: int) -> dict:
    """{workload: {metric: [value per run]}}, printing each run."""
    out = {}
    for name in names:
        vals: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
        for i in range(runs):
            seed = first_seed + i
            r = run_once(name, seed, spec["run_seconds"], 0)
            line = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{name} seed {seed}: {r['wall_s']:.1f}s steal={r['steal_s']:.1f}s "
                  f"correct={r['correct']} {line}", flush=True)
            if not r["correct"]:
                raise SystemExit(f"{name} seed {seed}: an output check failed")
            for k in vals:
                vals[k].append(r["metrics"][k]["value"])
        out[name] = vals
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = args.workload or [w["name"] for w in spec["workloads"]]
    sets = [run_set(spec, names, args.runs, args.first_seed + s * args.runs)
            for s in range(args.sets)]
    ok = True
    for name in names:
        print(f"\n{name}: {args.runs} runs per set")
        head = f"  {'metric':<16}{'bound':>7}"
        for s in range(args.sets):
            head += f"{f'median{s + 1}':>12}{f'spread{s + 1}':>9}"
        print(head + ("  medians apart" if args.sets == 2 else ""))
        for m in spec["end_to_end"]:
            row = f"  {m['name']:<16}{m['bound']:>7.2f}"
            verdicts = []
            for one in sets:
                vals = one[name][m["name"]]
                sp = spread(vals)
                row += f"{statistics.median(vals):>12.4g}{sp:>9.3f}"
                verdicts.append(verdict(sp, m["bound"]))
            if args.sets == 2:
                a, b = (statistics.median(one[name][m["name"]]) for one in sets)
                apart = abs(b - a) / a
                row += f"{apart:>9.3f}"
                verdicts.append(verdict(apart, m["bound"]))
            ok &= "WIDE" not in verdicts
            print(row + "  " + ", ".join(verdicts), flush=True)
        traced = [run_once(name, 1000 + args.first_seed + i, spec["run_seconds"], 1)
                  for i in range(args.traced)]
        ok &= all(r["correct"] for r in traced)
        for key in ("trace.overhead_pct", "trace.unattributed_pct"):
            if traced:
                vals = [r["metrics"][key]["value"] for r in traced]
                print(f"  traced {key}: " + ", ".join(f"{v:.2f}" for v in vals))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
