#!/usr/bin/env python3
"""Run a workload once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload suite --seeds 1-10 [--trace 0]

For every metric it prints the median, the quartiles (``statistics.
quantiles(values, n=4)``) and the spread: the distance between the
quartiles as a share of the median, next to the metric's bound from
BENCHMARK.json. Runs are sequential; each run's JSON line is appended to
``.perfbench/spread/<workload>_t<trace>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bm = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bm["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench", "spread", f"{a.workload}_t{a.trace}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for s in seeds(a.seeds):
        t = time.perf_counter()
        res = subprocess.run(
            [*bm["command"], "--workload", a.workload, "--seed", str(s),
             "--seconds", str(bm["run_seconds"]), "--trace", str(a.trace)],
            cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t
        out = json.loads(res.stdout.strip().splitlines()[-1]) if res.returncode == 0 else {}
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": s, "wall_s": wall, "rc": res.returncode, **out}) + "\n")
        if not out.get("correct"):
            print(f"seed {s}: rc={res.returncode} {out or res.stderr[-500:]}", file=sys.stderr)
            return 1
        for n, m in out["metrics"].items():
            values.setdefault(n, []).append(m["value"])
        print(f"seed {s}: {wall:.1f} s wall, {out['attempted']} ops", flush=True)
    for n, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        print(f"{n:40s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {spread:6.3f}  bound {bounds.get(n, '-')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
