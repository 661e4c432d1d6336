"""The benchmark's two workloads.

A workload is a fixed list of rows, each registered by one of the workload's
modules in `__spark_entry__.queries()`, so every row belongs to at most one
workload. The one row outside that registry is `flagship`, the pipeline
`__spark_entry__.entry()` runs (`duckdb_ml_spark.flagship.flagship`), run here
on the benchmark's own input: it is the only caller of `artifacts.save_model`,
since every registered ML row trains with `save=False`.

The lists are subsets of the 165 benched rows: one cold pass over all of them
takes minutes, while a whole benchmark run has about a minute (README.md,
"Budget, and what was left out"). Each list keeps the cheapest row of each
module that has a DuckDB oracle or a shape check, plus the rows that reach a
traced layer no cheaper row reaches.
"""

from __future__ import annotations

from dataclasses import dataclass

# rows that are not in `queries()`: name -> (module, builder function)
EXTRA_ROWS = {"flagship": ("flagship", "flagship")}


@dataclass(frozen=True)
class Workload:
    name: str
    modules: tuple[str, ...]  # registering modules, relative to duckdb_ml_spark
    # a pass runs these in a seeded order; the self-test runs the first three,
    # so they include a write and Python workers
    rows: tuple[str, ...]
    # every timed pass reads a freshly generated corpus directory, so each
    # per-(session, sf_dir) artifact is built again inside the pass
    fresh_corpus: bool
    why: str


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="warm_session",
            modules=(
                "plans.relational",
                "plans.scale",
                "operators.analytics",
                "operators.asof",
                "operators.dq",
                "streaming.queries",
                "operators.mlprep",
                "autompg",
                "sources.readers",
                "operators.ivfpq",
                "functions.queries",
                "flagship",
            ),
            rows=(
                "sink_merge_upsert",
                "flagship",
                "pricing_summary",
                "revenue_by_nation",
                "price_quantiles_by_flag",
                "skew_salted_join",
                "events_sessionize",
                "asof_last_order",
                "stream_tumbling_hourly",
                "dq_profile_orders",
                "ml_onehot_orders",
                "autompg_scaled",
                "sim_topk_ivfpq",
                "ml_train_distributed",
            ),
            fresh_corpus=False,
            why="one input in one session, memos and artifacts warm: relational SQL, "
            "ML prep, MERGE INTO, IVF-PQ serving, both trainers",
        ),
        Workload(
            name="pipeline_cold",
            modules=(
                "operators.dedup",
                "operators.sampling",
                "operators.similarity",
                "operators.text",
                "operators.bpe",
                "operators.pq",
                "operators.pipeline",
                "operators.multimodal",
                "sources.readers",
            ),
            rows=(
                "sink_compaction",
                "mm_decode_mulaw",
                "dedup_minhash_lsh_pairs",
                "sample_stratified",
                "sim_topk_ivf",
                "text_token_stats",
                "text_bpe_counts_budget",
                "sim_topk_pq_rerank",
                "pack_sequences",
                "sink_token_shards",
            ),
            fresh_corpus=True,
            why="curation job on a fresh corpus each pass: cold artifacts, Python "
            "workers, driver collects, codec decode, shard and compaction writes",
        ),
    )
}
