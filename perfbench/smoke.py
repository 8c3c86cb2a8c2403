#!/usr/bin/env python3
"""Smoke test of the benchmark at the tiny scale.

    python3 perfbench/smoke.py

Checks BENCHMARK.json's keys, names, units and limits, then runs
every workload once untraced and once traced on tiny inputs and checks
that each run is correct and prints exactly the metric names and units
BENCHMARK.json lists. Exits non-zero on the first mismatch.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}$")


def check_spec(bm: dict) -> None:
    assert set(bm) == {"command", "paths", "run_seconds", "workloads", "end_to_end",
                       "per_layer"}, "BENCHMARK.json keys"
    assert 1 <= bm["run_seconds"] <= 60 and isinstance(bm["run_seconds"], int)
    assert 2 <= len(bm["workloads"]) <= 8
    assert 1 <= len(bm["end_to_end"]) <= 16 and 1 <= len(bm["per_layer"]) <= 128
    names = [w["name"] for w in bm["workloads"]]
    names += [m["name"] for m in bm["end_to_end"] + bm["per_layer"]]
    assert len(names) == len(set(names)), "names are used once"
    for w in bm["workloads"]:
        assert set(w) == {"name", "why"} and NAME.match(w["name"]), w
        assert len(w["why"]) <= 200 and "\n" not in w["why"], w["name"]
    for m in bm["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25, m
    for m in bm["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in bm["end_to_end"] + bm["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("lower", "higher"), m
    assert any(m["name"] == "setup_s" and m["unit"] == "s" and m["better"] == "lower"
               for m in bm["end_to_end"]), "setup_s"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bm = json.load(fh)
    check_spec(bm)
    want = {0: {m["name"]: m["unit"] for m in bm["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bm["per_layer"]}}
    for w in bm["workloads"]:
        for trace in (0, 1):
            cmd = [*bm["command"], "--workload", w["name"], "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--scale", "tiny"]
            res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            assert res.returncode == 0, f"{w['name']} trace={trace}: {res.stderr[-2000:]}"
            out = json.loads(res.stdout.strip().splitlines()[-1])
            assert set(out) == {"correct", "attempted", "failed", "metrics"}
            assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1, out
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            assert got == want[trace], (w["name"], trace, set(got) ^ set(want[trace]))
            print(f"ok {w['name']} trace={trace} ({out['attempted']} ops)", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
