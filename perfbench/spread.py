#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's median, quartiles
and spread (interquartile distance over the median).

    python3 perfbench/spread.py --workload warm_session --seeds 1-10 [--trace 0] [--out f.json]

This is how the bounds in BENCHMARK.json were checked, and the loop a change
that claims a gain runs on the parent and on the change.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import benchmark_spec  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: dict[str, list[float]]) -> dict:
    out = {}
    for name, v in values.items():
        q1, _, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        out[name] = {
            "values": v,
            "median": statistics.median(v),
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / statistics.median(v) if statistics.median(v) else 0.0,
        }
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=benchmark_spec.spec()["run_seconds"])
    ap.add_argument("--out")
    a = ap.parse_args()
    values: dict[str, list[float]] = {}
    runs = []
    for seed in a.seeds:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(a.trace)],
            capture_output=True, text=True,
        )
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        runs.append({"seed": seed, "rc": p.returncode, "result": res})
        print(f"seed {seed}: rc={p.returncode} correct={res and res['correct']}", flush=True)
        for name, m in (res or {}).get("metrics", {}).items():
            values.setdefault(name, []).append(m["value"])
    summary = summarize(values)
    for name, s in summary.items():
        print(f"{name:24s} median {s['median']:12.4f}  q1 {s['q1']:12.4f}  q3 {s['q3']:12.4f}"
              f"  spread {s['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "trace": a.trace, "seconds": a.seconds,
                       "runs": runs, "metrics": summary}, f, indent=1)
    return 0 if all(r["rc"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
