#!/usr/bin/env python
"""Extend the decade scale series to 4096× (VERDICT r14 item 5).

The 4096× point was skipped in r14: deriving the full trio (~28 GB) beside
the 44 GB sfx2048 cache exceeded the rig's free disk. This probe fits it by
(a) deriving PARTITION-STREAMED with Spark (explode 0..4095 + key shift —
the exact KEY_SHIFTS recipe; a map-only plan, no shuffle, no DuckDB
UNION-COPY 2× spill), and (b) running ONE single-table flagship at a time,
deleting each derived fact before the next:

  phase A: lineitem@4096 (2.4B rows) → pricing_summary pair → rm
  phase B: orders@4096  (614M rows)  → orders_active_streaks pair → rm

Value note (same as TARGETED_x2048_lineitem): big double aggregates differ
in the last ulps across engines (summation order), so the probe reports
relative deltas, not hashes; integer outputs must match exactly.

Usage: python tools/scale4096_probe.py [--runs 2]
Writes bench/TARGETED_x4096_r15.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SRC_SF = "/root/testdata/sf0.1"
FACTOR = 4096
STRIDE = 10_000_000  # scaleup_bench.KEY_SHIFTS


def _free_gb() -> float:
    st = os.statvfs(str(REPO))
    return st.f_bavail * st.f_frsize / 1e9


def derive(spark, table: str, key: str, out: Path) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    # repartition BEFORE the 4096-way explode (the ~70 MB source is ~3
    # input splits; without this the derivation would run on 3 tasks)
    src = spark.read.parquet(f"{SRC_SF}/{table}.parquet").repartition(64)
    rep = (
        src.withColumn("__i", F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1))))
        .withColumn(key, F.col(key) + F.col("__i").cast("bigint") * STRIDE)
        .drop("__i")
    )
    rep.write.mode("overwrite").parquet(str(out))
    return round(time.time() - t0, 1)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    sf_dir = REPO / ".tmp" / "sfx4096"
    sf_dir.mkdir(parents=True, exist_ok=True)

    import duckdb

    import __spark_entry__ as entrymod
    from duckdb_ml_spark import memo
    from duckdb_ml_spark.session import get_spark

    spark = get_spark("scale4096", sf_dir=str(sf_dir))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    out: dict = {"factor": FACTOR, "runs": args.runs, "phases": {}}
    phases = [
        ("lineitem", "l_orderkey", "pricing_summary"),
        ("orders", "o_orderkey", "orders_active_streaks"),
    ]
    for table, key, qname in phases:
        tdir = sf_dir / f"{table}.parquet"
        ph: dict = {"free_gb_before": round(_free_gb(), 1)}
        ph["derive_sec"] = derive(spark, table, key, tdir)
        ph["free_gb_after_derive"] = round(_free_gb(), 1)
        ph["table_gb"] = round(
            sum(f.stat().st_size for f in tdir.rglob("*.parquet")) / 1e9, 1
        )

        sruns = []
        srows = None
        for _ in range(args.runs):
            memo.drop((str(sf_dir), "plan", qname))
            t0 = time.time()
            srows = [tuple(r) for r in qs[qname](spark, str(sf_dir)).collect()]
            sruns.append(round(time.time() - t0, 2))
        print(f"spark {qname}: {sruns}", file=sys.stderr)

        con = duckdb.connect()
        spill = REPO / ".tmp" / "duck_spill"
        con.execute(f"PRAGMA temp_directory='{spill}'")
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{tdir}/*.parquet')"
        )
        druns = []
        drows = []
        for _ in range(args.runs):
            t0 = time.time()
            try:
                drows = con.execute(oracles[qname]).fetchall()
                druns.append(round(time.time() - t0, 2))
            except Exception as ex:
                druns.append(-1.0)
                print(f"duckdb {qname} FAILED: {ex}", file=sys.stderr)
                break
        con.close()
        shutil.rmtree(spill, ignore_errors=True)
        print(f"duckdb {qname}: {druns}", file=sys.stderr)

        # value check: sort rows by first columns, compare counts + relative
        # deltas on numeric positions
        sS = sorted(srows or [])
        sD = sorted(drows or [])
        ph["rows_equal_count"] = len(sS) == len(sD)
        max_rel = 0.0
        exact_int = True
        if len(sS) == len(sD):
            for a, b in zip(sS, sD):
                for x, y in zip(a, b):
                    if isinstance(x, bool) or x is None or y is None:
                        exact_int = exact_int and (x == y)
                    elif isinstance(x, int) and isinstance(y, int):
                        exact_int = exact_int and (x == y)
                    elif isinstance(x, float) or isinstance(y, float):
                        fx, fy = float(x), float(y)
                        if fy != 0:
                            max_rel = max(max_rel, abs(fx - fy) / abs(fy))
                    else:
                        exact_int = exact_int and (x == y)
        ph["ints_exact"] = exact_int
        ph["max_float_rel_delta"] = max_rel
        best_s = min(sruns)
        best_d = min([d for d in druns if d > 0], default=-1.0)
        ph["spark"] = sruns
        ph["duckdb"] = druns
        ph["ratio"] = round(best_s / best_d, 2) if best_d > 0 else None
        out["phases"][qname] = ph

        shutil.rmtree(tdir)  # restore disk before the next phase
        ph["free_gb_after_rm"] = round(_free_gb(), 1)

    (REPO / "bench").mkdir(exist_ok=True)
    (REPO / "bench" / "TARGETED_x4096_r15.json").write_text(json.dumps(out, indent=1))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
