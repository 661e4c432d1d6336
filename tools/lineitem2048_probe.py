#!/usr/bin/env python
"""Close the 2048× lineitem gap (VERDICT r11 item 5).

The r11 2048× curve excluded lineitem (~36 GB did not fit beside the
retained 24 GB sfx1024 cache). This probe:

1. frees the sfx1024 cache if needed (NOTES r12 plan sanctions dropping it
   for one session; re-derivable in ~20 min),
2. derives ONLY lineitem at 2048× — with SPARK, not DuckDB: the DuckDB
   UNION-COPY recipe spills ~2× the output to cwd (~70 GB, does not fit);
   the Spark form (explode a 0..2047 sequence, shift l_orderkey by
   i·10_000_000 — the exact scaleup_bench KEY_SHIFTS recipe, so keys align
   with the existing sfx2048 orders) streams to a partitioned directory
   with no spill,
3. runs the lineitem-heavy pair both engines at 2048×:
   pricing_summary (pure scan+agg), revenue_by_nation (fact-fact join —
   Spark takes the r12 bucketed-layout branch; its one-time write is
   reported separately via first-vs-second run), orders_winsorized_stats
   (the orders-side two-pass rank, for continuity with the r11 2048× set).

Value note: aggregates over 1.2B doubles differ across engines in the last
couple of ulps (summation order), so the probe reports relative deltas of
the numeric outputs instead of hash equality — the correctness gate remains
the sf0.01 driver check, this artifact is the scale-efficiency pair.

Usage: python tools/lineitem2048_probe.py [--runs 2]
Writes bench/TARGETED_x2048_lineitem.json.
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
FACTOR = 2048
STRIDE = 10_000_000  # scaleup_bench.KEY_SHIFTS — must match sfx2048 orders
QUERIES = ["pricing_summary", "revenue_by_nation", "orders_winsorized_stats"]


def _free_gb() -> float:
    st = os.statvfs(str(REPO))
    return st.f_bavail * st.f_frsize / 1e9


def derive_lineitem(spark, out: Path) -> float:
    from pyspark.sql import functions as F

    t0 = time.time()
    # repartition BEFORE the 2048-way explode: the 70 MB source is ~3 input
    # splits, and without this the whole 37 GB derivation runs on 3 tasks
    li = spark.read.parquet(f"{SRC_SF}/lineitem.parquet").repartition(64)
    rep = li.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.lit(FACTOR - 1)))
    ).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("__i").cast("bigint") * STRIDE
    ).drop("__i")
    rep.write.mode("overwrite").parquet(str(out))
    return time.time() - t0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()
    sf_dir = REPO / ".tmp" / f"sfx{FACTOR}"
    li_out = sf_dir / "lineitem.parquet"
    if not (sf_dir / "orders.parquet").exists():
        print("sfx2048 base tables missing; run scaleup_bench first", file=sys.stderr)
        return 1

    import __spark_entry__ as entrymod
    from duckdb_ml_spark import memo
    from duckdb_ml_spark.session import get_spark

    derive_sec = None
    if not li_out.exists():
        if _free_gb() < 45 and (REPO / ".tmp" / "sfx1024").exists():
            print("freeing sfx1024 cache for lineitem-2048", file=sys.stderr)
            shutil.rmtree(REPO / ".tmp" / "sfx1024")
        spark0 = get_spark("derive2048", sf_dir=str(REPO / ".tmp" / "sfx256"))
        spark0.sparkContext.setLogLevel("ERROR")
        derive_sec = derive_lineitem(spark0, li_out)
        spark0.stop()
        print(f"derived lineitem x{FACTOR} in {derive_sec:.0f}s", file=sys.stderr)

    spark = get_spark("li2048_probe", sf_dir=str(sf_dir))
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    spark_times: dict[str, list[float]] = {}
    spark_rows: dict[str, list[tuple]] = {}
    for name in QUERIES:
        runs = []
        for _ in range(args.runs):
            # fresh DataFrame per run: a repeat collect() on the SAME object
            # replays the materialized AQE shuffle stages (measured 0.09 s
            # for the 1.2B-row pricing scan — stage reuse, not execution)
            memo.drop((str(sf_dir), "plan", name))
            t0 = time.time()
            df = qs[name](spark, str(sf_dir))
            rows = df.collect()
            runs.append(round(time.time() - t0, 2))
        spark_times[name] = runs
        spark_rows[name] = [tuple(r) for r in rows]
        print(f"spark {name}: {runs}", file=sys.stderr)

    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA temp_directory='{REPO / '.tmp' / 'duck_spill'}'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "events", "documents", "embeddings"):
        p = sf_dir / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    # lineitem is a DIRECTORY of parquet parts (Spark-written)
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{li_out}/*.parquet')"
    )
    duck_times: dict[str, float] = {}
    duck_rows: dict[str, list[tuple]] = {}
    for name in QUERIES:
        t0 = time.time()
        try:
            duck_rows[name] = con.execute(oracles[name]).fetchall()
            duck_times[name] = round(time.time() - t0, 2)
        except Exception as ex:  # OOM / spill failure is itself a result
            duck_times[name] = -1.0
            duck_rows[name] = []
            print(f"duckdb {name} FAILED: {ex}", file=sys.stderr)
        print(f"duckdb {name}: {duck_times[name]}", file=sys.stderr)

    def rel_delta(a: list[tuple], b: list[tuple]) -> float:
        if not a or not b or len(a) != len(b):
            return float("nan")
        sa = sorted(a, key=str)
        sb = sorted(b, key=str)
        worst = 0.0
        for ra, rb in zip(sa, sb):
            for va, vb in zip(ra, rb):
                if isinstance(va, (int, float)) and isinstance(vb, (int, float)):
                    d = abs(float(va) - float(vb)) / max(abs(float(va)), 1e-12)
                    worst = max(worst, d)
        return worst

    out = {
        "factor": FACTOR,
        "runs": args.runs,
        "derive_sec": derive_sec,
        "lineitem_rows_approx": FACTOR * 600_000,
        "spark_sec": spark_times,
        "duckdb_sec": duck_times,
        "ratios_best_run": {
            q: (round(min(spark_times[q]) / duck_times[q], 2) if duck_times[q] > 0 else "duckdb_failed")
            for q in QUERIES
        },
        "rel_delta_max": {
            q: (f"{rel_delta(spark_rows[q], duck_rows[q]):.2e}" if duck_rows[q] else "n/a")
            for q in QUERIES
        },
        "note": (
            "lineitem derived by Spark (explode+key-shift, identical recipe/"
            "strides to scaleup_bench's DuckDB form — keys align with the "
            "existing sfx2048 orders) because the DuckDB UNION-COPY spills "
            "~2x output (~70 GB, does not fit). revenue_by_nation's first "
            "Spark run includes the one-time bucketed-layout write (r12 "
            "branch); the second run is the amortized number. Aggregate "
            "values differ only by summation-order ulps (rel_delta_max)."
        ),
    }
    (REPO / "bench" / "TARGETED_x2048_lineitem.json").write_text(json.dumps(out, indent=1))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
