"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship pipeline on sf0.001 (smoke check, rows > 0).
queries()     — every implemented operator from SURVEY.md §2 as (spark, sf_dir) → DataFrame.
oracle_sql()  — matching DuckDB ANSI-SQL for the value-hash correctness gate.

Implementations live in duckdb_ml_spark/; this module only collects them.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from duckdb_ml_spark.memo import memo


# The correctness driver checks the FIRST 50 queries()-dict entries per round.
# This is still the round-15 window: the first 50 rows of the queue declared
# in round 14, in its committed order (oldest last-green first: the r12
# dedup/bpe/sampling rows, the r12 relational block, then r13-green rows
# re-staled by r14 commits). It drained that queue, but later commits have
# re-staled rows since, and most of those are outside it: CHECKLEDGER.md
# (tools/check_ledger.py) lists every stale row and whether this window
# holds it. Stale rows outside the window wait in _WINDOW_CARRYOVER (below)
# until the window is rotated to them; tests/test_check_ledger.py asserts
# stale ⊆ window ∪ carryover at HEAD. The 5 env-drift canaries are modeled
# as EXEMPT_ENV_SENTINELS in tools/check_ledger.py (ADVICE r12).
_CHECK_PRIORITY = (
    "dedup_embedding_lsh_sigs",
    "dedup_embedding_pairs",
    "sample_mixture_resample",
    "bpe_merge_table",
    "scan_filter_project",
    "pricing_summary",
    "scaling_params",
    "minmax_scaled",
    "array_features",
    "range_ids",
    "customers_by_region",
    "segment_order_stats",
    "customers_without_orders",
    "parts_in_large_lineitems",
    "top_orders_per_segment",
    "price_quantiles_by_flag",
    "orders_rank_distribution",
    "set_ops_names",
    "rollup_region_nation",
    "distinct_segments",
    "conditional_agg_status",
    "orders_by_month",
    "orders_status_pivot",
    "events_hourly",
    "events_json_extract",
    "grouping_sets_customers",
    "orders_top_global",
    "customer_order_gaps",
    "orders_rank_metrics",
    "unpivot_part_measures",
    "customers_above_nation_avg",
    "cube_status_priority",
    "dedup_clusters",
    "dedup_clusters_distributed",
    "dedup_embedding_lsh_pairs",
    "dedup_incremental",
    "dedup_keep_best",
    "dedup_keep_docs",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "dedup_span_fraction",
    "dq_key_skew",
    "orders_winsorized_stats",
    "price_quantiles_approx_band",
    "skew_salted_agg",
    "source_bucketed_join",
    "source_csv_roundtrip",
    "source_jsonl_roundtrip",
    "source_orc_roundtrip",
    "source_parquet_roundtrip",
)

# Rotation queue: the 4 rows that did not fit the 50-slot r15 window, plus
# every row re-staled by any later commit to its registering module
# (appended in the same change as the module edit; every append is green in
# the local gate, tools/oracle_check.py, at HEAD before commit).
# tests/test_check_ledger.py asserts stale ⊆ window ∪ carryover, and
# tools/check_ledger.py counts an uncommitted module edit as a touch, so
# the test fails until this list is updated — a genuine scheduling queue.
# Env-drift canaries live in tools/check_ledger.py: EXEMPT_ENV_SENTINELS.
_WINDOW_CARRYOVER = (
    "source_partitioned_pruned",
    "source_schema_evolution",
    "source_text_roundtrip",
    "source_xml_roundtrip",
    # NEW r15 (never driver-checked; local gate green at sf0.001+sf0.01+sf0.1):
    "events_hll_sketch_only",
    # r14-green rows re-staled by the r15 ADVICE/HLL commits to their
    # registering modules (module-touch granularity; every row re-verified
    # PASS in the local gate replica after the changes landed):
    # relational.py (HLL row registration):
    "events_distinct_users_approx",
    "revenue_by_nation",
    # dedup.py (session-cache reset):
    "dedup_editdist_verify",
    "dedup_exact_keys",
    "dedup_minhash_signatures",
    "dedup_semantic",
    "dedup_semantic_sampled",
    "dedup_simhash",
    "emb_contrastive_pairs",
    # sampling.py (survivor-overflow stale detector):
    "sample_curriculum",
    "sample_epoch_shuffle",
    "sample_group_split",
    "sample_importance",
    "sample_length_buckets",
    "sample_per_source_k",
    "sample_split_train_test",
    "sample_stratified",
    "sample_temperature",
    "sample_token_budget",
    # plans/scale.py (advisor stats docstring):
    "layout_advised_scan",
    "layout_bloom_scan",
    "layout_zorder_scan",
    "skew_salted_join",
    # operators/pipeline.py rows re-staled by the r15 bloom-probe commit
    # (broadcast-array shipping for the probe); all 10 re-verified PASS in
    # the local gate replica at HEAD this session:
    "decontaminate_bloom",
    "decontaminate_train",
    "pack_greedy_nosplit",
    "pack_manifest",
    "pack_manifest_spans",
    "pack_sequences",
    "pack_sequences_bpe",
    "pack_stats",
    "pipeline_containment",
    "pipeline_curate",
    # NEW r15 (never driver-checked; GIF/BMP + FLAC arms of the decode
    # seam — local gate green at sf0.001+sf0.01+sf0.1 before commit):
    "mm_decode_gif",
    "mm_decode_flac",
    # operators/pq.py rows re-staled by the r15 single-consumer rerank
    # lineage commit; both re-verified PASS at sf0.01+sf0.1 before commit:
    "sim_pq_recall_band",
    "sim_topk_pq_rerank",
    # operators/multimodal.py rows re-staled by the GIF/BMP dispatch commit;
    # re-verified PASS in the local gate replica at HEAD:
    "mm_audio_energy",
    "mm_decode_features",
    "mm_decode_jpeg",
    "mm_decode_mulaw",
    "mm_decode_png",
    "mm_image_resize",
    "mm_metadata",
    "mm_sample_frames",
    "mm_type_stats",
    # operators/text.py rows re-staled by the count-min top-k commit
    # (countmin_topk_audit plans one TakeOrderedAndProject); all 14
    # re-verified PASS at sf0.001+sf0.01+sf0.1 before commit:
    "text_bm25_scores",
    "text_chunk_stride",
    "text_countmin_freq",
    "text_fingerprint",
    "text_keywords_topk",
    "text_lang_id",
    "text_pii_redact",
    "text_quality_score",
    "text_repetition_signals",
    "text_source_quality",
    "text_token_count_bpe",
    "text_token_stats",
    "text_unigram_logprob",
    "text_vocab_topk",
    # operators/similarity.py, bpe.py and ivfpq.py rows re-staled by the
    # session memo (duckdb_ml_spark/memo.py) replacing their module-level
    # caches; all 11 re-verified PASS at sf0.001+sf0.01+sf0.1 before commit:
    "emb_normalize_quantize",
    "sim_hybrid_rrf",
    "sim_knn_join",
    "sim_quantized_topk",
    "sim_tfidf_rescore",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "sim_topk_ivf_index",
    "sim_topk_ivfpq",
    "text_bpe_counts_budget",
    "text_bpe_real",
    # sources/readers.py rows re-staled by moving the on-disk exports onto
    # memo.derived_dir (content-fingerprinted, rename-committed); the other
    # readers.py, similarity.py and scale.py rows were already windowed or
    # carried. All 27 rows of the three modules re-verified PASS at
    # sf0.001+sf0.01+sf0.1 before commit:
    "sink_compaction",
    "sink_merge_upsert",
    "sink_token_shards",
    "sink_token_shards_capped",
)


def _all_query_specs():
    """Collect QuerySpec registries from every engine module, ordered so the
    driver's 50-slot correctness window covers _CHECK_PRIORITY first."""
    from duckdb_ml_spark.plans.relational import RELATIONAL_QUERIES

    specs = {}
    specs.update(RELATIONAL_QUERIES)
    for modname in (
        "duckdb_ml_spark.plans.canary",
        "duckdb_ml_spark.plans.bisect",
        "duckdb_ml_spark.operators.dedup",
        "duckdb_ml_spark.operators.similarity",
        "duckdb_ml_spark.operators.text",
        "duckdb_ml_spark.operators.bpe",
        "duckdb_ml_spark.operators.multimodal",
        "duckdb_ml_spark.operators.asof",
        "duckdb_ml_spark.operators.analytics",
        "duckdb_ml_spark.operators.sampling",
        "duckdb_ml_spark.operators.pq",
        "duckdb_ml_spark.operators.ivfpq",
        "duckdb_ml_spark.operators.mlprep",
        "duckdb_ml_spark.operators.dq",
        "duckdb_ml_spark.operators.pipeline",
        "duckdb_ml_spark.plans.scale",
        "duckdb_ml_spark.functions.queries",
        "duckdb_ml_spark.sources.readers",
        "duckdb_ml_spark.streaming.queries",
        "duckdb_ml_spark.autompg",
    ):
        try:
            import importlib

            mod = importlib.import_module(modname)
            specs.update(getattr(mod, "QUERIES", {}))
        except ImportError:
            continue  # module not built yet
    rank = {name: i for i, name in enumerate(_CHECK_PRIORITY)}
    ordered = sorted(
        specs.items(), key=lambda kv: (rank.get(kv[0], len(rank)), 0)
    )
    # stable sort: non-priority entries keep their registration order
    return dict(ordered)


# Plan memo: queries() builders are deterministic (session, sf_dir) → lazy
# DataFrame constructors, so the engine memoizes the built plan exactly like
# tables.load memoizes table reads — a repeat invocation reuses the analyzed
# plan instead of re-paying the Python-API expression-tree construction
# (~0.05-0.25 s of py4j round trips per query; execution itself is untouched,
# every run re-scans parquet and re-executes the full plan). Builders that
# EXECUTE work at build time (bounded candidate collects, file exports, CSV
# inference, ML training/registry effects) are excluded so repeated calls
# keep paying their real cost.
_EXEC_AT_BUILD = frozenset(
    {
        "dedup_ngram_jaccard_pairs",  # bounded candidate collect
        "dedup_editdist_verify",  # same bounded LSH-candidate collect
        "dedup_minhash_lsh_pairs",  # bounded signature collect
        "dedup_clusters",  # bounded edge collect (union-find)
        "dedup_clusters_distributed",  # propagation rounds execute at build
        "dedup_keep_docs",
        "dedup_keep_best",  # rides the same bounded union-find collect
        "sim_tfidf_rescore",  # LSH candidate collect feeds the rescore
        "sim_knn_join",  # bounded-corpus count/collect/broadcast at build (ADVICE r3)
        "dedup_embedding_lsh_pairs",  # same — masked-broadcast kernel prep
        "emb_contrastive_pairs",  # tiled-pair count/collect at build
        "source_csv_roundtrip",  # export + inference scan
        "source_jsonl_roundtrip",
        "source_parquet_roundtrip",
        "source_bucketed_join",  # bucketed-table write
        "source_orc_roundtrip",  # export + re-scan
        "source_xml_roundtrip",  # XML export at build
        "source_text_roundtrip",  # text export at build
        "source_partitioned_pruned",  # partitioned write
        "sink_merge_upsert",  # target rebuild + merge at build
        "sim_topk_ivf_index",  # index build/write + probe collect at build
        "sim_pq_recall_band",  # codebook training collect + LUT build at build
        "sim_topk_pq_rerank",  # same codebook/LUT build-time work
        "sim_topk_ivfpq",  # k-means + codebook training collects at build
        "source_schema_evolution",  # snapshot writes at build
        "sink_compaction",  # shard + compact writes at build
        "sink_token_shards",  # binary shard write + manifest collect at build
        "sink_token_shards_capped",  # same, plus the prefix-sum shard split
        "autompg_scaled",  # CSV inference scan
        "ml_create_ok",  # registry side effects / training at build
        "ml_list_models",
        "ml_pred_sql",
        "ml_pred_shape",  # ml_create + register_all registry effects at build
        "ml_train_shape",  # training at build (structural twin)
        "ml_train_distributed_shape",
        "ml_train_predict",
        "ml_train_distributed",
        "ml_quality_filter",
        "text_bpe_real",  # trains the merge table at build (bounded collect)
        "bpe_merge_table",  # same — merge training at build
        # text_bpe_counts_budget / pack_sequences_bpe left r5: they now apply
        # the FIXED packing tokenizer (bpe.packing_merges) — pure plan builders
        "decontaminate_train",  # corpus_shingles localCheckpoint at build
        "decontaminate_bloom",  # same materialized shingle relation
        "pipeline_containment",
        "pipeline_curate",
        # r5 two-pass order statistics: range-bounds collect (cold path) at
        # build — a memoized dataset artifact (orderstats.value_range_bounds)
        "orders_rank_distribution",
        "orders_rank_metrics",  # r11b: same keyed_global_rank gate/bounds
        "orders_winsorized_stats",
        "price_quantiles_by_flag",
        "price_quantiles_approx_band",
        # r6: above-16MB path counts the filtered build side (cached) at build
        "revenue_by_nation",
        # r6: z-order rewrite + min/max collects at build
        "layout_zorder_scan",
        # r11b: bloom-layout write + probe-key aggregates at build
        "layout_bloom_scan",
        # r6: epoch shuffle rides keyed_global_rank's cached-count gate
        "sample_epoch_shuffle",
        "sample_per_source_k",  # bounded group-count + top-k collect at build (r13)
        "layout_advised_scan",  # advisor stats (count/footers/sample) at build
        # r6 late: centroid-matrix collect (cached dataset artifact) at build
        "dedup_semantic",
        "dedup_semantic_sampled",  # same collect on the sampled corpus
        # r8 late: sampled hot-key profile collect at build
        "skew_salted_join",
    }
)


def _cached_builder(name: str, builder):
    if name in _EXEC_AT_BUILD:
        return builder
    return lambda spark, sf_dir: memo(spark, (sf_dir, "plan", name), lambda: builder(spark, sf_dir))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's autompg pipeline pattern (scaling params → min-max
    scale → MLP train + predict) on sf0.001 lineitem, Spark-first."""
    from duckdb_ml_spark.flagship import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        name: _cached_builder(name, spec.builder)
        for name, spec in _all_query_specs().items()
    }


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in _all_query_specs().items() if spec.oracle is not None
    }
