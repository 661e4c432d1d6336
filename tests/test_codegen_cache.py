"""The session's generated-code cache holds a working set far above Spark's
100-class default: a second pass over the same plans compiles nothing."""

from __future__ import annotations

from duckdb_ml_spark.session import CODEGEN_CACHE_ENTRIES, codegen_stats

N_PLANS = 150  # distinct plans per cycle, above Spark's default cap of 100


def _compile_cycle(spark) -> int:
    """Plan and compile N_PLANS distinct tiny plans on the driver (execute()
    builds the RDD, which compiles the whole-stage code, without running a
    job); returns the compilations it caused."""
    c0, _ = codegen_stats(spark)
    for i in range(N_PLANS):
        df = spark.range(10).selectExpr(f"id * {i + 7} + 104729 AS x")
        df._jdf.queryExecution().executedPlan().execute()
    return codegen_stats(spark)[0] - c0


def test_codegen_cache_is_sized_to_the_engine_default(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert CODEGEN_CACHE_ENTRIES > N_PLANS


def test_second_cycle_of_distinct_plans_compiles_nothing(spark):
    first = _compile_cycle(spark)
    assert first >= N_PLANS  # the counter moves: every new plan compiles
    assert _compile_cycle(spark) == 0
