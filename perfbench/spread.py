#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR ÷ median), next to its bound.

    python3 perfbench/spread.py --workloads extract curate --seeds 1-10 \\
        [--trace 0] [--jsonl runs.jsonl]

One run at a time, each a full ``perfbench/run.py`` invocation; the
wall-clock time of every run is reported too, since the run count times
that must fit the time budget a benchmark harness allows.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values: list[float]) -> tuple[float, float]:
    """(median, (q3 - q1) / median) as statistics.quantiles(n=4) gives them."""
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--jsonl", default=None, help="append every run's result here")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for wl in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True,
            )
            took = time.monotonic() - t0
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if proc.returncode == 0 else None
            info = json.loads(lines[-2])["run"] if result else None
            runs.append({"workload": wl, "seed": seed, "rc": proc.returncode,
                         "run_s": took, "result": result, "run": info})
            print(f"{wl} seed={seed} rc={proc.returncode} run_s={took:.1f}", flush=True)
            if args.jsonl:
                with open(args.jsonl, "a") as f:
                    f.write(json.dumps(runs[-1]) + "\n")
        good = [r["result"] for r in runs if r["result"]]
        ok &= len(good) == len(runs)
        if not good:
            continue
        print(f"{wl}: {len(good)}/{len(runs)} ok, run_s max "
              f"{max(r['run_s'] for r in runs):.1f} median "
              f"{statistics.median(r['run_s'] for r in runs):.1f}")
        for name in good[0]["metrics"]:
            vals = [g["metrics"][name]["value"] for g in good]
            med, sp = spread(vals)
            bound = bounds.get(name)
            flag = "" if bound is None or sp <= bound / 3 else "  <-- above bound/3"
            print(f"  {name:24s} median {med:12.4f}  spread {sp:.3f}"
                  f"{'' if bound is None else f'  bound {bound}'}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
