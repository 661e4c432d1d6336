"""Instrumentation for the traced run, applied from outside the package.

Two sources, neither of which changes engine code:

- `Wrappers` replaces public functions of `duckdb_ml_spark` modules with
  timing shims. A function is replaced everywhere the package binds it, so a
  caller that imported the name (`from duckdb_ml_spark.tables import load`)
  and a caller that resolves it as a module attribute (`nn.train_reg`) are
  both counted.
- `StatusReader` reads Spark's own status stores after each query: the job and
  stage store (`sc.statusStore()`) for the jobs of the query's job groups, and
  the SQL store for the Python-evaluation nodes' metrics.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import time
from collections import defaultdict

# (module, function, metric prefix); output-directory argument for sinks.
# Each is reached by a benchmarked row; sinks.merge_upsert_parquet is not (no
# registered row calls it), so it is not wrapped.
WRAPPED = (
    ("duckdb_ml_spark.tables", "load", "tables.load", None),
    ("duckdb_ml_spark.functions", "ml_train", "functions.ml_train", None),
    ("duckdb_ml_spark.nn", "train_reg", "nn.train_reg", None),
    (
        "duckdb_ml_spark.functions.distributed",
        "ml_train_distributed",
        "functions.distributed.ml_train_distributed",
        None,
    ),
    ("duckdb_ml_spark.artifacts", "save_model", "artifacts.save_model", None),
    ("duckdb_ml_spark.sinks", "write_token_shards", "sinks.write_token_shards", "out_dir"),
    (
        "duckdb_ml_spark.sinks",
        "merge_upsert_partitioned",
        "sinks.merge_upsert_partitioned",
        "path",
    ),
    ("duckdb_ml_spark.sinks", "compact_small_files", "sinks.compact_small_files", "out_dir"),
)


LAYER_KEYS = (
    *(f"{metric}_{suffix}" for _m, _a, metric, _o in WRAPPED for suffix in ("s", "calls")),
    "functions.ml_train_collect_s",
    "functions.ml_pred_exec_s",
    "nn.train_rows",
    "sinks.bytes_written",
    "sinks.files_written",
)


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under `path`; (0, 0) when it does not exist."""
    if os.path.isfile(path):
        return os.path.getsize(path), 1
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
                files += 1
            except OSError:
                pass
    return total, files


class Wrappers:
    """Timing shims around package functions; `layers` holds the sums."""

    def __init__(self):
        self.layers: dict[str, float] = defaultdict(float)
        self._in_ml_train = 0
        self._restore: list[tuple[object, str, object]] = []

    def install(self, dataframe_cls) -> None:
        for modname, attr, metric, out_arg in WRAPPED:
            mod = sys.modules.get(modname)
            if mod is None or not hasattr(mod, attr):
                continue
            orig = getattr(mod, attr)
            shim = self._shim(orig, metric, out_arg)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if name.startswith("duckdb_ml_spark") and getattr(m, attr, None) is orig:
                    self._restore.append((m, attr, orig))
                    setattr(m, attr, shim)
        # the Arrow collect inside ml_train is a DataFrame method
        orig_to_arrow = dataframe_cls.toArrow

        @functools.wraps(orig_to_arrow)
        def to_arrow(df_self, *a, **kw):
            t0 = time.perf_counter()
            try:
                return orig_to_arrow(df_self, *a, **kw)
            finally:
                if self._in_ml_train:
                    self.layers["functions.ml_train_collect_s"] += time.perf_counter() - t0

        self._restore.append((dataframe_cls, "toArrow", orig_to_arrow))
        dataframe_cls.toArrow = to_arrow

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._restore):
            setattr(obj, attr, orig)
        self._restore.clear()

    def _shim(self, orig, metric: str, out_arg: str | None):
        sig = inspect.signature(orig)
        layers = self.layers

        @functools.wraps(orig)
        def shim(*a, **kw):
            is_train = metric == "functions.ml_train"
            if is_train:
                self._in_ml_train += 1
            if metric == "nn.train_reg":
                x = sig.bind(*a, **kw).arguments.get("x")
                layers["nn.train_rows"] += int(getattr(x, "shape", (0,))[0])
            t0 = time.perf_counter()
            try:
                return orig(*a, **kw)
            finally:
                layers[f"{metric}_s"] += time.perf_counter() - t0
                layers[f"{metric}_calls"] += 1
                if is_train:
                    self._in_ml_train -= 1
                if out_arg is not None:
                    out = sig.bind(*a, **kw).arguments.get(out_arg)
                    if isinstance(out, str):
                        b, f = dir_size(out)
                        layers["sinks.bytes_written"] += b
                        layers["sinks.files_written"] += f

        return shim


_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("1,234", "3.4 MiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) as a number."""
    m = _SIZE_RE.search(text)
    if m:
        return float(m.group(1).replace(",", "")) * _SIZE_UNITS[m.group(2)]
    m = re.search(r"-?[\d,]+(\.\d+)?", text.split("\n")[-1] if "\n" in text else text)
    return float(m.group(0).replace(",", "")) if m else 0.0


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _opt_s(opt) -> float | None:
    """A Scala Option[java.util.Date] as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur_end:
            continue
        total += e - max(s, cur_end)
        cur_end = e
    return total


class StatusReader:
    """Per-query reads of Spark's job/stage and SQL status stores."""

    _PY_NODE = re.compile(r"Python|Pandas|InArrow")

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.bus = jsc.listenerBus()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.last_job = self._max_job_id()
        self.seen_execs = self.sql_store.executionsCount()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.bus.waitUntilEmpty(30_000)

    def _max_job_id(self) -> int:
        jobs = self.store.jobsList(None)  # sorted by job id, newest first
        n = jobs.size()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    def new_jobs(self) -> list:
        """JobData of every job started since the previous call."""
        out = []
        jid = self.last_job + 1
        top = self._max_job_id()
        while jid <= top:
            try:
                out.append(self.store.job(jid))
            except Exception:  # noqa: BLE001 — evicted or never registered
                pass
            jid += 1
        self.last_job = max(self.last_job, top)
        return out

    def job_metrics(self, jobs: list, groups: set[str]) -> dict:
        """Sums over the stages of `jobs`; intervals split by job group."""
        m: dict[str, float] = defaultdict(float)
        tagged, every = [], []
        seen_stages = set()
        for j in jobs:
            s, e = _opt_s(j.submissionTime()), _opt_s(j.completionTime())
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            if s is not None and e is not None:
                every.append((s, e))
                if group in groups:
                    tagged.append((s, e))
                m["spark.job_wall_s"] += e - s
            m["spark.jobs"] += 1
            if group is not None and group.endswith(":build"):
                m["driver.build_actions"] += 1
            for sid in _seq(j.stageIds()):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — skipped stage never attempted
                    continue
                if str(st.status().toString()) == "SKIPPED":
                    continue
                m["spark.stages"] += 1
                m["spark.tasks"] += st.numCompleteTasks()
                m["spark.executor_run_s"] += st.executorRunTime() / 1e3
                m["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
                m["spark.task_gc_s"] += st.jvmGcTime() / 1e3
                m["spark.input_bytes"] += st.inputBytes()
                m["spark.input_records"] += st.inputRecords()
                m["spark.output_bytes"] += st.outputBytes()
                m["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
                m["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
                m["spark.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return {"metrics": m, "tagged": tagged, "every": every}

    def python_metrics(self) -> dict[str, float]:
        """Python-evaluation node metrics of every SQL execution since the
        previous call."""
        m: dict[str, float] = defaultdict(float)
        n = self.sql_store.executionsCount()
        # executions are listed by id; retention is raised so none is evicted
        for ex in _seq(self.sql_store.executionsList(self.seen_execs, n - self.seen_execs)):
            eid = ex.executionId()
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                if not self._PY_NODE.search(node.name()):
                    continue
                for metric in _seq(node.metrics()):
                    name = metric.name()
                    key = {
                        "data sent to Python workers": "python.bytes_sent",
                        "data returned from Python workers": "python.bytes_returned",
                        "number of output rows": "python.rows_returned",
                    }.get(name)
                    if key is None:
                        continue
                    v = values.get(metric.accumulatorId())
                    if v is not None and not isinstance(v, str):
                        v = v.get() if v.isDefined() else None
                    if v is not None:
                        m[key] += parse_metric(str(v))
        self.seen_execs = n
        return m

    def gc_seconds(self) -> float:
        """JVM-wide garbage-collection time so far (driver and executors share
        the JVM in local mode)."""
        jvm = self.sc._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, beans.get(i).getCollectionTime()) for i in range(beans.size())) / 1e3
