#!/usr/bin/env python
"""pricing_summary scan-floor decomposition at 2048× (r12).

The 2048× pair reads pricing_summary at 1.26-1.42× of DuckDB
(bench/TARGETED_x2048_lineitem.json). This probe decomposes where the gap
lives by running, in one session per engine, on the same 1.23B-row derived
lineitem:

  count_star   count(*) only — row-group iteration, zero column decode
  one_col      sum(l_quantity) — one DOUBLE column decoded + fold
  cols_nogroup the full 7-column pricing expression set, single group
  full         pricing_summary (7 columns, 2 grouping keys)

If Spark's increments (one_col − count_star, full − cols_nogroup) track
DuckDB's, decode and grouping are at parity and the residual is the
constant row-iteration tax; a step that grows much faster on one engine
names the actual bottleneck.

Usage: python tools/pricing_floor_probe.py [--runs 3]
Writes bench/PRICINGFLOOR_x2048_r12.json.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF = REPO / ".tmp" / "sfx2048"

SPARK_VARIANTS = {
    "count_star": "SELECT count(*) AS n FROM lineitem",
    "one_col": "SELECT sum(l_quantity) AS s FROM lineitem",
    "cols_nogroup": """
        SELECT sum(l_quantity) AS sq, sum(l_extendedprice) AS se,
               sum(l_extendedprice * (1 - l_discount)) AS sd,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS st,
               avg(l_discount) AS ad, count(*) AS n
        FROM lineitem
    """,
    # decodes the two grouping STRING columns too, still single group —
    # isolates string decode from the grouping operator itself
    "cols_strings_nogroup": """
        SELECT sum(l_quantity) AS sq, sum(l_extendedprice) AS se,
               sum(l_extendedprice * (1 - l_discount)) AS sd,
               sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS st,
               avg(l_discount) AS ad, count(*) AS n,
               min(l_returnflag) AS mrf, max(l_linestatus) AS mls
        FROM lineitem
    """,
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    if not (SF / "lineitem.parquet").exists():
        print("derive sfx2048 lineitem first (tools/lineitem2048_probe.py)", file=sys.stderr)
        return 1

    import __spark_entry__ as entrymod
    from duckdb_ml_spark import memo
    from duckdb_ml_spark.session import get_spark
    from duckdb_ml_spark.tables import load

    spark = get_spark("pricing_floor", sf_dir=str(SF))
    spark.sparkContext.setLogLevel("ERROR")
    load(spark, str(SF), "lineitem").createOrReplaceTempView("lineitem")
    qs = entrymod.queries()

    def t_spark(fn) -> float:
        t0 = time.time()
        fn()
        return time.time() - t0

    s_times: dict[str, float] = {}
    for name, sql in SPARK_VARIANTS.items():
        runs = [
            t_spark(lambda: spark.sql(sql).collect()) for _ in range(args.runs)
        ]
        s_times[name] = round(min(runs), 2)
        print(f"spark {name}: {s_times[name]}", file=sys.stderr)
    runs = []
    for _ in range(args.runs):
        memo.drop((str(SF), "plan", "pricing_summary"))
        runs.append(t_spark(lambda: qs["pricing_summary"](spark, str(SF)).collect()))
    s_times["full"] = round(min(runs), 2)
    print(f"spark full: {s_times['full']}", file=sys.stderr)

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{SF}/lineitem.parquet/*.parquet')"
    )
    d_times: dict[str, float] = {}
    for name, sql in SPARK_VARIANTS.items():
        runs = [t_spark(lambda: con.execute(sql).fetchall()) for _ in range(args.runs)]
        d_times[name] = round(min(runs), 2)
        print(f"duck {name}: {d_times[name]}", file=sys.stderr)
    oracle = entrymod.oracle_sql()["pricing_summary"]
    runs = [t_spark(lambda: con.execute(oracle).fetchall()) for _ in range(args.runs)]
    d_times["full"] = round(min(runs), 2)
    print(f"duck full: {d_times['full']}", file=sys.stderr)

    out = {
        "factor": 2048,
        "runs": args.runs,
        "spark_sec": s_times,
        "duckdb_sec": d_times,
        "increments": {
            "spark": {
                "decode_one_col": round(s_times["one_col"] - s_times["count_star"], 2),
                "decode_rest": round(s_times["cols_nogroup"] - s_times["one_col"], 2),
                "string_decode": round(
                    s_times["cols_strings_nogroup"] - s_times["cols_nogroup"], 2
                ),
                "grouping": round(s_times["full"] - s_times["cols_strings_nogroup"], 2),
                "iteration_floor": s_times["count_star"],
            },
            "duckdb": {
                "decode_one_col": round(d_times["one_col"] - d_times["count_star"], 2),
                "decode_rest": round(d_times["cols_nogroup"] - d_times["one_col"], 2),
                "string_decode": round(
                    d_times["cols_strings_nogroup"] - d_times["cols_nogroup"], 2
                ),
                "grouping": round(d_times["full"] - d_times["cols_strings_nogroup"], 2),
                "iteration_floor": d_times["count_star"],
            },
        },
    }
    (REPO / "bench" / "PRICINGFLOOR_x2048_r12.json").write_text(json.dumps(out, indent=1))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
