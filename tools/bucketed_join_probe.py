#!/usr/bin/env python
"""The VERDICT r8 item 4 experiment: does a CO-LOCATED BUCKETED layout beat
the fact-fact shuffle join at 1024×?

Context: `skew_salted_join` at 1024× (614 M lineitem ⋈ 154 M orders) measured
59.5 s vs DuckDB's 8.1 s (bench/SCALEUP_x1024_r8d_new.json). With no hot keys
the adaptive path degenerates to the plain shuffle join — both fact sides
exchange + sort. The repo already owns the scale-safe alternative
(sources.readers.bucketed_table → exchange-free bucket-aligned SortMergeJoin,
plan-asserted at sf0.1); this probe measures it AT the 1024× scale the
verdict flagged:

  A. the operative shuffle join (the skew_salted_join body, pruned columns);
  B. one-time bucketed write of both pruned sides (the amortized cost — at
     100 TB this is the layout decision, paid once per table, not per join);
  C. the bucket-aligned join+agg over the bucketed tables (what every
     SUBSEQUENT join on the key pays).

Writes bench/BUCKETJOIN_x1024_r9.json. The derived 1024× parquet must exist
(.tmp/sfx1024 — produced by tools/scaleup_bench.py --factor 1024).

Usage: python tools/bucketed_join_probe.py [--factor 1024] [--runs 2]
       [--n-buckets 64] [--keep-tables]
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

REPO = Path(__file__).resolve().parent.parent


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=1024)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--keep-tables", action="store_true")
    args = ap.parse_args()

    sf_dir = REPO / ".tmp" / f"sfx{args.factor}"
    if not (sf_dir / "_DERIVED").exists():
        print(f"derived data missing: {sf_dir} (run scaleup_bench first)", file=sys.stderr)
        return 1

    from pyspark.sql import functions as F

    from duckdb_ml_spark.session import get_spark
    from duckdb_ml_spark.tables import load

    spark = get_spark("bucketed_join_probe", sf_dir=str(sf_dir))
    spark.sparkContext.setLogLevel("ERROR")
    out = {"factor": args.factor, "runs": args.runs, "n_buckets": args.n_buckets}

    def timed(tag, fn):
        best = -1.0
        for _ in range(args.runs):
            t0 = time.time()
            fn()
            dt = time.time() - t0
            best = dt if best < 0 else min(best, dt)
        out[tag] = round(best, 3)
        print(f"{tag}: {out[tag]}", file=sys.stderr)

    li = load(spark, str(sf_dir), "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = load(spark, str(sf_dir), "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )

    def agg(j):
        return j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )

    # A. operative shuffle join (what skew_salted_join degenerates to on
    # uniform keys; plain join, no sample job — isolates the join cost)
    timed("shuffle_join_sec", lambda: agg(li.join(od, "l_orderkey")).write
          .format("noop").mode("overwrite").save())

    # B. one-time bucketed layout of both pruned sides. repartition(n, key)
    # first so each task owns exactly one bucket → one file per bucket and
    # genuinely sorted buckets (bucketBy alone writes tasks×buckets files
    # and the reader re-sorts multi-file buckets).
    tag = f"probe_x{args.factor}"
    tl, to = f"bktp_li_{tag}", f"bktp_od_{tag}"
    roots = [sf_dir / tl, sf_dir / to]
    for name, root in ((tl, roots[0]), (to, roots[1])):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(root, ignore_errors=True)
    t0 = time.time()
    for df, name, root in ((li, tl, roots[0]), (od, to, roots[1])):
        (
            df.repartition(args.n_buckets, "l_orderkey")
            .write.format("parquet")
            .bucketBy(args.n_buckets, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", str(root))
            .mode("overwrite")
            .saveAsTable(name)
        )
    out["bucketed_write_sec"] = round(time.time() - t0, 3)
    print(f"bucketed_write_sec: {out['bucketed_write_sec']}", file=sys.stderr)

    # C. the bucket-aligned join every subsequent consumer pays
    bl, bo = spark.table(tl), spark.table(to)
    plan = agg(bl.join(bo, "l_orderkey"))._jdf.queryExecution().executedPlan().toString()
    # the join itself must be exchange-free: the only exchange is the final
    # 5-group aggregate (and its 1-row sort if any)
    out["join_exchanges"] = plan.count("Exchange hashpartitioning")
    timed("bucketed_join_sec", lambda: agg(bl.join(bo, "l_orderkey")).write
          .format("noop").mode("overwrite").save())

    # sanity: counts must match EXACTLY; revenue only to relative tolerance —
    # the two plans accumulate 614 M products in different orders, so the
    # double sums differ by ~1e-13 relative (measured), which 2-dp rounding
    # cannot absorb at the ~1e13 magnitude (the same reason query/oracle
    # pairs round only aggregates and never hash huge raw sums)
    ra = {r[0]: (r[1], r[2]) for r in agg(li.join(od, "l_orderkey")).collect()}
    rb = {r[0]: (r[1], r[2]) for r in agg(bl.join(bo, "l_orderkey")).collect()}
    out["n_items_equal"] = all(ra[k][0] == rb[k][0] for k in ra) and set(ra) == set(rb)
    out["revenue_rel_delta_max"] = max(
        abs(ra[k][1] - rb[k][1]) / abs(ra[k][1]) for k in ra
    )

    if not args.keep_tables:
        for name, root in ((tl, roots[0]), (to, roots[1])):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(root, ignore_errors=True)

    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
