#!/usr/bin/env python3
"""Run one workload for several seeds and report each end-to-end
metric's median and quartile spread, the figures the bounds in
BENCHMARK.json are judged by.

    python3 perfbench/spread.py --workload corpus_dedup --seeds 1-10

Runs are sequential, each its own `run.py` process from the current
directory, each for BENCHMARK.json's `run_seconds`. Exits non-zero if
any run failed or any metric's spread exceeds its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.getcwd())

from perfbench.stats import iqr_share  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi) + 1)) if hi else [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range 1-10 or a list 3,5,8")
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    values: dict[str, list[float]] = {}
    ok = True
    for seed in _seeds(args.seeds):
        p = subprocess.run(
            bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            capture_output=True, text=True,
        )
        # the run's own report (phases, samples, errors) on stderr
        report = [ln for ln in p.stderr.splitlines() if ln.startswith('[perfbench] {"workload"')]
        print(*report[-1:], file=sys.stderr, flush=True)
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if lines else {}
        good = p.returncode == 0 and result.get("correct")
        ok = ok and bool(good)
        got = {k: v["value"] for k, v in result.get("metrics", {}).items()}
        print(json.dumps({"seed": seed, "exit": p.returncode, **got}), flush=True)
        for k, v in got.items():
            if good:
                values.setdefault(k, []).append(v)
    for m in bench["end_to_end"]:
        vs = values.get(m["name"], [])
        if len(vs) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vs, n=4)
        spread = iqr_share(vs)
        within = spread <= m["bound"]
        ok = ok and within
        print(f"{m['name']}: n={len(vs)} median={q2:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={spread:.4f} bound={m['bound']} {'ok' if within else 'TOO WIDE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
