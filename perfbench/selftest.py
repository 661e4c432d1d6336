#!/usr/bin/env python3
"""Self-test of the benchmark on a tiny configuration.

    python3 perfbench/selftest.py

For each workload: sf 0.001 input, one pass, the first three rows. Checks that

- the generator gives byte-identical files for a seed;
- the last stdout line of a run parses and carries `correct`, `attempted`,
  `failed` and every metric BENCHMARK.json names, with its unit;
- no query failed and the check pass agreed with DuckDB;
- a traced run attributes every query (no attribution miss, no skipped
  status-store read), and its full lineitem scan reports at least the file's
  column-chunk bytes in spark.input_bytes;
- two traced runs with the same seed give identical count metrics;
- a directory holding only BENCHMARK.json and the benchmark's files makes the
  run exit non-zero without printing a result.

Exits 0 when every check passes; prints one line per failed check otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchmark_spec  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 5
TINY = ["--sf", "0.001", "--passes", "1", "--rows", "3", "--seconds", "1"]
COUNT_METRICS = (
    "spark.stages",
    "spark.tasks",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.input_bytes",
    "driver.build_actions",
)


def run(root: str, workload: str, trace: int) -> tuple[int, dict | None, str]:
    cmd = [sys.executable, os.path.join(root, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--trace", str(trace), *TINY]
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    return p.returncode, result, p.stderr[-3000:]


def record(workload: str, trace: int) -> dict:
    path = os.path.join(ROOT, ".bench_work", "results", f"{workload}-s{SEED}-t{trace}.json")
    with open(path) as f:
        return json.load(f)


def main() -> int:
    errors: list[str] = []
    work = os.path.join(ROOT, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    a, b = os.path.join(work, "gen_a"), os.path.join(work, "gen_b")
    gen.write(gen.tables(SEED, 0.001), a)
    gen.write(gen.tables(SEED, 0.001), b)
    if gen.file_hashes(a) != gen.file_hashes(b):
        errors.append("generator: same seed gave different files")

    for wl in WORKLOADS:
        for trace, section in ((0, "end_to_end"), (1, "per_layer")):
            rc, res, err = run(ROOT, wl, trace)
            if rc != 0 or res is None:
                errors.append(f"{wl} trace={trace}: rc={rc}, result={res}\n{err}")
                continue
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                errors.append(f"{wl} trace={trace}: correct/failed/attempted = "
                              f"{res.get('correct')}/{res.get('failed')}/{res.get('attempted')}")
            units = benchmark_spec.units(section)
            for name, unit in units.items():
                got = res.get("metrics", {}).get(name)
                if not got or got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
                    errors.append(f"{wl} trace={trace}: metric {name} missing or not in {unit}")
        first = record(wl, 1)
        lay = first["per_layer"]
        if lay.get("trace.attribution_misses") or lay.get("trace.skipped_reads"):
            errors.append(f"{wl}: attribution misses / skipped reads = "
                          f"{lay.get('trace.attribution_misses')}/{lay.get('trace.skipped_reads')}")
        if not (first.get("scan_check") or {}).get("ok"):
            errors.append(f"{wl}: scan check failed: {first.get('scan_check')}")
        rc, res, err = run(ROOT, wl, 1)
        if rc != 0 or res is None:
            errors.append(f"{wl} second traced run: rc={rc}\n{err}")
            continue
        second = record(wl, 1)
        for name in COUNT_METRICS + ("write_amp",):
            x, y = first["per_layer"].get(name), second["per_layer"].get(name)
            if x != y:
                errors.append(f"{wl}: count metric {name} differs across same-seed runs: {x} vs {y}")
        if first["input_hashes"] != second["input_hashes"]:
            errors.append(f"{wl}: same-seed inputs differ")

    bare = tempfile.mkdtemp(dir=work)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, res, _ = run(bare, next(iter(WORKLOADS)), 0)
    if rc == 0 or res is not None:
        errors.append(f"bare directory: rc={rc}, result={res} (expected failure, no result)")

    shutil.rmtree(work, ignore_errors=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
