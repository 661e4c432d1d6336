#!/usr/bin/env python
"""Paired Spark/DuckDB probe at ~16× the driver's largest scale factor.

The 100 TB argument rests on a measured trend: the committed sf0.01→sf0.1
pairs show the Spark/DuckDB ratio falling 7.0× → 1.6× as the constant
per-query floor amortizes into the data term. This tool extends the curve one
more decade by DERIVING a larger dataset from the driver's own sf0.1 parquet
(facts replicated with shifted keys, dimensions kept — the realistic shape of
corpus growth), then running the same `queries()` / `oracle_sql()` pairs on
both engines in one window.

Derivation (deterministic, documented):
- facts `orders`/`lineitem`/`events`/`documents` are unioned FACTOR times with
  key columns shifted by i·stride (join integrity preserved: l_orderkey and
  o_orderkey shift together); `documents.text` gets a per-replica suffix token
  so replicas are near-dups, not byte-dups (keeps dedup semantics meaningful);
- `embeddings` is unioned FACTOR times the same way (vec_id shifted, vectors
  perturbed per replica), so the similarity serving family crosses its
  65 536-row collect gates at 64×;
- dims `region`/`nation`/`customer`/`supplier`/`part` are copied unchanged
  (dims grow slowly in practice).

FACTOR = 16 puts `documents` at 80 000 rows — ABOVE the 65 536 signature- and
matrix-collect gates, so this probe exercises the distributed (banded/shuffle)
code paths the bounded-corpus fast paths fall back from: the plans the design
claims survive 100 TB.

Usage:
    python tools/scaleup_bench.py [--factor 16] [--runs 2] [--only q1,q2]
Each row is called once untimed on each engine, then timed `--runs` times
(the minimum is reported).
The derived parquet is one `memo.derived_dir` of the sf0.1 input,
`.tmp/sf0.1/sfx<factor>-<fp>/`, named by the source tables' files and the
factor: reused while they are unchanged, derived again when one moves.
Prints one JSON line {spark: {q: sec}, duckdb: {q: sec}, totals...}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SRC_SF = "/root/testdata/sf0.1"

DIMS = ("region", "nation", "customer", "supplier", "part")
KEY_SHIFTS = {
    # table -> [(column, stride)]
    "orders": [("o_orderkey", 10_000_000)],
    "lineitem": [("l_orderkey", 10_000_000)],
    "events": [("event_id", 10_000_000)],
    "documents": [("doc_id", 1_000_000)],
    "embeddings": [("vec_id", 1_000_000)],
}
TABLES = DIMS + tuple(KEY_SHIFTS)

# Representative, data-bound subset: scans/aggs/windows on every fact table,
# the decontam family (shared shingle index at 16x), the dedup families on
# BOTH sides of the collect gate, and the sketch/band queries.
DEFAULT_QUERIES = [
    "pricing_summary",
    "revenue_by_nation",
    "orders_rank_metrics",
    "price_quantiles_approx_band",
    "events_hourly",
    "events_anomaly_robust",
    "range_event_pairs",
    "asof_last_order",
    "text_quality_score",
    "text_vocab_topk",
    "text_pii_redact",
    "dedup_exact_keys",
    "dedup_minhash_signatures",
    "dedup_simhash",
    "decontaminate_train",
    "pack_sequences",
    "sample_stratified",
    "events_distinct_users_approx",
    # late-round-4 operators: the doc-bound ones scale with the derived corpus.
    # pack_greedy_nosplit is deliberately absent: its ORACLE is a recursive
    # CTE stepping one doc per iteration (fine at the driver's sf0.01 check
    # scale, ~170 docs/shard; quadratic at 16k docs/shard — it alone blew the
    # probe's wall clock). The Spark side is a linear per-shard kernel; its
    # 16× behavior is covered by the identically-shaped pack_manifest_spans.
    "dedup_span_fraction",
    "text_chunk_stride",
    "pack_manifest_spans",
    "sample_token_budget",
    "sample_length_buckets",
    "orders_winsorized_stats",
    # r5: the two-pass distribution-window rewrite (was the single-task sort)
    "orders_rank_distribution",
    # r6: the exact-quantile family under its auto gate — at this probe's
    # 9.6 M rows that is the collect-based TWO-SCAN distributed form (> the
    # 8 M QUANTILE_KERNEL_GATE, the measured crossover); both gate sides'
    # forced-mode times are committed in
    # bench/SCALEUP_x16_r6_quantile_modes.json.
    "price_quantiles_by_flag",
    # r6: binary tokenized-shard emission (OOV words in the derived corpora
    # are dropped by design — the oracle's inner-join semantics); measured
    # 0.98x at 16x, with Spark actually WRITING the .bin/.idx files while
    # the oracle only computes the manifest SELECT.
    "sink_token_shards",
    # r8 late additions. dedup_editdist_verify is deliberately absent: the
    # derivation multiplies docs per (lang, source) block by the factor, so
    # within-block candidate pairs grow QUADRATICALLY on both engines — the
    # probe would measure the blocking-key choice, not the engine (at real
    # scale the block key widens; the verifier itself is the cheap part).
    "events_sessionize",
    "events_scd2_intervals",
    "orders_active_streaks",
    "skew_salted_join",
    "dq_key_skew",
    "sample_group_split",
    "text_bm25_scores",
    # r9 second session: the similarity SERVING family over the now-scaled
    # embeddings table (scale_embeddings — replicated+perturbed vectors, so
    # the 65 536 collect gates cross at 64× and the distributed kernels run).
    # The k-means/codebook families (ivf/pq/ivfpq) are excluded: their
    # builders TRAIN at build time per invocation — the probe would measure
    # training, not serving (build-vs-serve asymmetry documented in VERDICT
    # r8 plan audit).
    "sim_topk_bruteforce",
    "sim_quantized_topk",
    "dedup_embedding_lsh_sigs",
    # dedup_semantic is deliberately absent from the PAIRED list: Spark
    # streams it (47.5 s at 64× after the r9 tiling/spread fixes,
    # bench/SCALEUP_x64_r9_new.json notes) but its ORACLE replicates the
    # centroid assignment as a 128k×5k cross join that DuckDB materializes —
    # kernel-OOM-killed at 104 GB RSS at 64×. Probe it --skip-duck.
    # r9 second session additions with a data-bound scale story. The
    # candidate-pair consumers (dedup_clusters_distributed, editdist) stay
    # excluded: derived corpora make every doc a factor-way near-dup family,
    # so pair counts grow quadratically BY CONSTRUCTION of the derivation,
    # not by engine behavior.
    "decontaminate_bloom",
    "dq_distinct_sketch",
    "text_countmin_freq",
    "sample_per_source_k",
    "sample_curriculum",
    # r10: the scale-surviving semantic-dedup VALUE oracle (VERDICT r9 item
    # 5) — vec_id % 8 corpus sample shrinks the oracle's assignment cross
    # join 64× (the full dedup_semantic oracle OOMs DuckDB at ≥64×, see the
    # skip-duck note above) while the Spark side runs the identical tiled
    # assign + sub-cluster prune kernels. VALUE parity holds while the
    # largest derived cluster ≤ SEM_MAX_CLUSTER (≈ stride·factor ≤ 4096 ⇒
    # factors ≤ 64×); at 256×+ the run is TIME-only (Spark's sub-cluster
    # approximation engages; the oracle stays exact) — see the QuerySpec doc.
    "dedup_semantic_sampled",
]

# Per-query factor ceiling for the ORACLE side: beyond it the DuckDB twin is
# structurally unrunnable and recording -1 every probe is just noise.
# dedup_semantic_sampled: value parity is documented ≤64× anyway (cluster
# bound), and at 256× the oracle's within-cluster join spilled until the
# DISK filled (r10 probe: "No space left on device" after ~40 GB of temp).
DUCK_MAX_FACTOR = {"dedup_semantic_sampled": 64}


def _derived_sql(src_sf: str, t: str, factor: int) -> str:
    src = f"'{src_sf}/{t}.parquet'"
    if t in DIMS:
        return f"SELECT * FROM {src}"
    parts = []
    for i in range(factor):
        replace = [f"{col} + {i * stride} AS {col}" for col, stride in KEY_SHIFTS[t]]
        if t == "documents" and i > 0:
            replace.append(f"text || ' rep{i}' AS text")
        if t == "embeddings":
            replace.append(
                f"list_transform(embedding, x -> (x * (1.0 + {i} * 1e-6) + {i % 97} * 1e-7)::FLOAT) AS embedding"
            )
        parts.append(f"SELECT * REPLACE ({', '.join(replace)}) FROM {src}")
    return " UNION ALL ".join(parts)


def build_derived(src_sf: str, factor: int) -> str:
    """The FACTOR-scaled copy of `src_sf`'s tables (module docstring), derived
    once per content of its source tables and factor."""
    from duckdb_ml_spark.memo import derived_dir

    def write(out: str) -> None:
        import duckdb

        os.makedirs(out)
        with duckdb.connect() as con:
            # the FACTOR-branch UNION ALL exceeds the default parser depth
            # of 1000 at factor >= ~250; scale the limit with the factor
            con.execute(f"SET max_expression_depth TO {max(1000, factor * 8)}")
            for t in TABLES:
                con.execute(
                    f"COPY ({_derived_sql(src_sf, t, factor)}) TO '{out}/{t}.parquet' (FORMAT PARQUET)"
                )

    return derived_dir(src_sf, TABLES, f"sfx{factor}", write, params=str(factor))


def warm_best(run, runs: int) -> float:
    """Seconds of the fastest of `runs` timed calls of `run`, after one
    untimed call: without it `--runs 1` timed each engine's first call (JVM
    start, codegen, first reads; `pricing_summary` at `--factor 2` read 12.9 s
    on Spark against 0.93 s warm)."""
    run()
    best = float("inf")
    for _ in range(runs):
        t1 = time.time()
        run()
        best = min(best, time.time() - t1)
    return best


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=int, default=16)
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--only", default=None)
    ap.add_argument("--skip-duck", action="store_true")
    args = ap.parse_args()

    t0 = time.time()
    out_dir = build_derived(SRC_SF, args.factor)
    print(f"derived data ready in {time.time() - t0:.1f}s: {out_dir}", file=sys.stderr)

    names = args.only.split(",") if args.only else DEFAULT_QUERIES

    import __spark_entry__ as entrymod
    from duckdb_ml_spark.session import get_spark
    from duckdb_ml_spark.testing import duckdb_connection

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("scaleup", sf_dir=out_dir)
    spark.sparkContext.setLogLevel("ERROR")

    s_times: dict[str, float] = {}
    for name in names:
        try:
            s_times[name] = round(
                warm_best(
                    lambda: qs[name](spark, out_dir).write.format("noop").mode("overwrite").save(),
                    args.runs,
                ),
                3,
            )
        except Exception as e:  # pragma: no cover - probe robustness
            print(f"spark {name} FAILED: {str(e).splitlines()[0][:200]}", file=sys.stderr)
            # explicit engine-failure label (VERDICT r12 item 6): a -1.0
            # sentinel read like a (nonsense) measurement in past artifacts
            s_times[name] = {"status": "engine_failed", "error": str(e).splitlines()[0][:200]}
        print(f"spark {name}: {s_times[name]}", file=sys.stderr)

    d_times: dict[str, float] = {}
    if not args.skip_duck:
        con = duckdb_connection(out_dir)
        for name in names:
            if name not in oracles:
                continue
            if args.factor > DUCK_MAX_FACTOR.get(name, 10**9):
                print(
                    f"duck {name}: skipped (oracle unrunnable above "
                    f"{DUCK_MAX_FACTOR[name]}x)",
                    file=sys.stderr,
                )
                continue
            try:
                d_times[name] = round(
                    warm_best(lambda: con.execute(oracles[name]).fetchall(), args.runs), 3
                )
            except Exception as e:  # pragma: no cover
                print(f"duck {name} FAILED: {str(e).splitlines()[0][:200]}", file=sys.stderr)
                d_times[name] = {"status": "oracle_failed", "error": str(e).splitlines()[0][:200]}
            print(f"duck {name}: {d_times[name]}", file=sys.stderr)

    shared = [
        n
        for n in names
        if isinstance(s_times.get(n, -1), float)
        and isinstance(d_times.get(n, -1), float)
        and s_times[n] >= 0
        and d_times[n] >= 0
    ]
    ts = sum(s_times[n] for n in shared)
    td = sum(d_times[n] for n in shared)
    print(
        json.dumps(
            {
                "factor": args.factor,
                "runs": args.runs,
                "spark": s_times,
                "duckdb": d_times,
                "shared_total_spark": round(ts, 2),
                "shared_total_duckdb": round(td, 2),
                "ratio": round(ts / td, 3) if td else None,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
