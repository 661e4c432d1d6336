"""SparkSession construction tuned for this engine.

Defaults target the test rig (local[$SPARK_GRAFT_CPUS], 128 GiB, single JVM) but
every setting is chosen to also be the right default on a large cluster:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing);
- Arrow on (pandas_udf / mapInPandas hot paths are Arrow-batched);
- shuffle partitions sized for the local rig via env, overridable per-cluster;
- UTC session timezone so timestamp semantics match naive-UTC parquet and the
  DuckDB oracle regardless of host timezone;
- a generated-code cache of CODEGEN_CACHE_ENTRIES (4096) classes instead of
  Spark's 100, so a session's repeated queries reuse their compiled classes:
  the 172 registry rows at sf0.01 generate 1,403 distinct classes, and at the
  default cap each warm benchmark pass recompiled 207-229 of them.

One process-level default rides on importing this module (the package
`__init__` does): on Python < 3.12, `importlib.invalidate_caches()` re-reads a
zip archive's directory only when the archive changed on disk (below).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

if sys.version_info < (3, 12):
    import zipimport

    # PySpark's worker calls importlib.invalidate_caches() at every task start,
    # and before 3.12 each zipimporter then re-parses its archive's central
    # directory. A worker holds 17 zipimporters, 12 into pyspark.zip (1,328
    # entries), so every Python task paid 0.13-0.24 s for it whatever its data
    # (measured on 4 cores: a trivial 4-partition mapInPandas stage took
    # 0.27-0.29 s, 0.185 s with this; the benchmark's pipeline_cold
    # query_p50_s fell 36%). Re-read only when the archive's (mtime, size)
    # differs from what this importer last read, so a zip rewritten in place
    # is still re-read. A worker imports this module when it unpickles an
    # engine kernel; every later task in that reused worker skips the reads.
    def _invalidate_if_changed(self, _eager=zipimport.zipimporter.invalidate_caches):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            _eager(self)
            self._read_stamp = stamp

    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Below this input size the engine runs in "compact" mode: AQE off and few
# shuffle partitions. Measured on the rig at sf0.1 (numbers below; the
# probe was `git show b0841fa:tools/floor_probe.py`):
# AQE executes every exchange as its own materialized query stage — a separate
# job submission + re-plan per shuffle — which costs ~40% of a small query's
# wall time (join+agg+sort floor 0.43 s AQE/32-part vs 0.25 s no-AQE/8-part)
# while its benefits (partition coalescing, skew splitting, SMJ→BHJ rewrites)
# only materialize when shuffles are big enough to matter. The static planner
# still broadcasts small sides via parquet size stats. At real scale (the
# 100 TB target) the threshold flips the same session to AQE + wide shuffles —
# this is the standard "size your shuffle to your data" production tuning,
# applied automatically instead of by hand.
COMPACT_INPUT_BYTES = 2 << 30

# Size of Spark's generated-class cache (static conf
# spark.sql.codegen.cache.maxEntries; Spark's default is 100). The working set
# follows the number of distinct plans a session runs, not the data size, so
# compact and cluster sessions use the same value. Measured on 4 cores at
# sf0.01: the 172 registry rows generate 1,403 distinct classes (mean 2.7 KB
# of bytecode). At the default cap the LRU evicted classes before their reuse:
# 207-229 recompiles per timed pass of the benchmark's warm_session workload,
# 25-66 per pipeline_cold pass, and 1,586 (12.7 s of Janino time) in a second
# full-registry cycle. At this cap: 0 in every timed pass after the first, and
# 4 in the second cycle (NOTES.md lists them); warm_session's pass_s fell
# 18-22% (15 of 15 parent/change pairs). JVM peak RSS: 2,967 vs 3,046 MiB at
# the default cap after two registry cycles; single traced benchmark runs read
# 1,596 vs 1,404 MiB (warm_session) and 1,334 vs 1,472 MiB (pipeline_cold).
CODEGEN_CACHE_ENTRIES = 4096


def _dir_bytes(path: str) -> int:
    """Total bytes of the parquet inputs under sf_dir (0 if unreadable)."""
    total = 0
    try:
        with os.scandir(path) as it:
            for e in it:
                try:
                    total += e.stat().st_size if e.is_file() else _dir_bytes(e.path)
                except OSError:
                    pass
    except OSError:
        pass
    return total


def get_spark(
    app_name: str = "duckdb_ml_spark",
    shuffle_partitions: int | None = None,
    sf_dir: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults sized to the data."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    total_bytes = _dir_bytes(sf_dir or DEFAULT_SF_DIR)
    compact = total_bytes < COMPACT_INPUT_BYTES
    if shuffle_partitions is None:
        env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        # compact mode sizes shuffles to the DATA, not a constant: ~16 MB of
        # input per shuffle partition, floor 4 (tiny suites keep the low
        # task-launch floor), cap 32 (the rig's cores). Measured at the 16×
        # derived scale: a 9.6M-row shuffle-hash join runs 1.24 s on 4
        # partitions vs 0.91 s on 16.
        shuffle_partitions = (
            int(env)
            if env
            else (max(4, min(32, total_bytes // (16 << 20))) if compact else 32)
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "false" if compact else "true")
        # Shuffle compression trades CPU for network/disk bytes. In local mode
        # there IS no network and spills hit page cache, so compression is pure
        # CPU overhead (measured: -35% on the 2-stage query floor at sf0.1).
        # At cluster scale the trade flips and the default (true) is right.
        .config("spark.shuffle.compress", "false" if compact else "true")
        .config("spark.shuffle.spill.compress", "false" if compact else "true")
        # Compact-mode floor shaves (measured as for COMPACT_INPUT_BYTES: the
        # pair cuts the 2-stage agg floor 150→118 ms, the noop job 50→29 ms):
        # locality.wait=0 — in single-node local mode every task is
        # PROCESS_LOCAL, so delay scheduling only ever adds waits; dynamic
        # partition pruning's subquery planning costs more than it can save
        # when inputs are <2 GB. Both revert to Spark defaults at scale where
        # they earn their cost.
        .config("spark.locality.wait", "0" if compact else "3s")
        # Accept a child partitioning on a SUBSET of a join's cluster keys as
        # co-partitioning (the pre-3.3 behavior; subset clustering is always
        # a valid, coarser clustering — correctness is unaffected). Without
        # this, Catalyst folding a post-join dimension filter back into the
        # join condition (e.g. revenue_by_nation's supplier-nation =
        # customer-nation) turns a single-key bucket-aligned join into a
        # two-key one and re-shuffles BOTH bucketed sides (measured r12:
        # 2 exchanges vs 0, bench/REVENUE_FLOOR_x256_r12.json).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Scan split size scales with the DATA (r8, VERDICT r7 item 6 — the
        # falsification experiment this prescribes found the former fixed
        # 2 MB compact split was the scan+agg bottleneck at the 64× probe:
        # lineitem's 1.2 GB became 562 tasks of scheduling overhead —
        # pricing_summary 1.23→0.55 s, events_hourly 1.36→0.34 s at
        # data-scaled splits, sweep committed in bench/SCANCLASS_x64_r8).
        # total/64 targets ~2 splits per core on the biggest table; the
        # 2 MB floor keeps the original small-suite shave (single-file
        # tables at sf0.1 otherwise scan as ONE serial task — events JSON
        # agg 403→299 ms), the 128 MB cap is Spark's cluster default.
        # Non-compact keeps the 128 MB cluster default ON PURPOSE (r11
        # falsification, bench/SCANSPLIT_x256_r11.json; the probe was
        # `git show b0841fa:tools/scansplit_probe.py`):
        # data-scaling the split to ~total/128 (49 MB at 256×) wins ONLY on
        # the single widest pure-scan agg (pricing_summary 2.26→1.84 s, the
        # one query whose dominant fact otherwise gets 22 tasks on 32 cores)
        # and gives it straight back in task overhead on Arrow-kernel ops
        # (sample_token_budget 7.13→7.73 s) — 7-query subset total 22.58 vs
        # 22.90 s, a wash. Scan parallelism is not the mid-scale bottleneck;
        # shuffle and kernel batch shape are.
        .config(
            "spark.sql.files.maxPartitionBytes",
            str(min(max(total_bytes // 64, 2 << 20), 128 << 20))
            if compact
            else str(128 * 1024 * 1024),
        )
        .config(
            "spark.sql.optimizer.dynamicPartitionPruning.enabled",
            "false" if compact else "true",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # No console progress bar: its carriage-return repaints interleave
        # with stdout when a harness captures both streams, which corrupted
        # the one-line JSON contract bench.py prints (BENCH_r02..r13 all
        # carry parsed:null for exactly this reason; r01 — before the suite
        # grew long enough to overlap a repaint — parsed fine).
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """(compilations, compile_ms) of generated classes so far in this JVM.

    Cumulative since JVM start and shared by every session in it; take the
    difference of two readings to count one span's codegen-cache misses (a
    cache hit compiles nothing). The count is CodegenMetrics' compilation-time
    histogram count, the time CodeGenerator's compile-time accumulator."""
    jvm = spark.sparkContext._jvm
    count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    nanos = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(count), nanos / 1e6


_SHIPPED_CONTEXTS: set[str] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Make `duckdb_ml_spark` importable on executor Python workers regardless
    of the driver's cwd/PYTHONPATH.

    Workers resolve imports from their own sys.path; when the harness launches
    with a cwd outside the repo, closure-pickled references to this package
    (pandas_udf/mapInPandas kernels) would raise ModuleNotFoundError at task
    time. Shipping a package zip via addPyFile fixes that through Spark's own
    file-distribution channel — the same mechanism a real cluster deploy uses.
    Once per SparkContext, named by its applicationId (a new context gets a
    new id, where a Python `id()` may be reused): the zip is rewritten and
    added on the first call in each context."""
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED_CONTEXTS:
        return
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_dir)
    zip_path = os.path.join(repo, ".tmp", "duckdb_ml_spark.zip")
    os.makedirs(os.path.dirname(zip_path), exist_ok=True)
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, repo))
    sc.addPyFile(zip_path)
    _SHIPPED_CONTEXTS.add(sc.applicationId)
