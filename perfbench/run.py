#!/usr/bin/env python3
"""Benchmark of the duckdb_ml_spark engine: one run of one workload.

    python3 perfbench/run.py --workload warm_session --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. The run

1. generates its inputs from --seed under `.bench_work/` (gen.py);
2. starts Spark through `duckdb_ml_spark.session.get_spark` as local[k] and
   runs one untimed check pass on the timed input: it hashes every row with an
   oracle against DuckDB and checks the ML rows' output shape, and it is the
   warm-up that caches codegen (set-up);
3. runs timed passes for --seconds seconds: a pass calls every builder of the
   workload once in a seeded order (build step) and materializes the result
   with a noop write (exec step) — a closed loop with one client;
4. prints one summary line and, last, the result line:
   {"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
   are the end-to-end ones, with --trace 1 the per-layer ones (tracing.py).

Everything the run writes stays inside the checkout. A run that cannot find
the engine exits with code 2 and prints no result; a failed check exits 1.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
from workloads import EXTRA_ROWS, WORKLOADS  # noqa: E402

SF = 0.01  # timed input: 60,000 lineitem rows
CPUS = min(4, os.cpu_count() or 1)
MIN_PASSES = 2  # timed passes per run, at least; pass_s is their median
TRACE_PASSES = 2  # traced runs: a fixed count, so count metrics repeat exactly
# DuckDB runs per oracle row after the hash check's run: at least 5, more for
# millisecond queries (until 0.1 s or 25 runs), median taken
DUCK_MIN_RUNS, DUCK_MAX_RUNS, DUCK_MIN_TOTAL_S = 5, 25, 0.1
PROBE_CEILING_S = 0.5  # absolute flag for a slow host-noise probe
# a query's wall must equal its tagged job time plus driver.gap_s within this
ATTRIBUTION_TOL_S = 0.02
ATTRIBUTION_TOL_FRAC = 0.05
# rows whose build step trains a model and whose exec step scores every
# lineitem row through the ML predictor
TRAIN_ROWS = PREDICT_ROWS = ("ml_train_distributed", "flagship")
# rows without an oracle, checked by shape: every lineitem row scored once,
# the last column the one finite prediction (the spec's `out` is 1)
SHAPE_ROWS = {
    "ml_train_distributed": ("l_orderkey", "l_linenumber", "predicted"),
    "flagship": ("l_orderkey", "l_linenumber", "target", "predicted"),
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description="duckdb_ml_spark benchmark, one run")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test settings (selftest.py): smaller input, fixed passes, fewer rows
    ap.add_argument("--sf", type=float, default=SF)
    ap.add_argument("--passes", type=int, default=0, help="fixed pass count")
    ap.add_argument("--rows", type=int, default=0, help="first N rows only")
    return ap.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def vm_hwm_mb(pid="self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Inputs:
    """Derived input directories of one run, under the run's work dir.

    Directory basenames carry workload, seed and role: the engine keys some
    on-disk exports on `.tmp/<basename(sf_dir)>`, so every directory a run
    reads gets its own basename, and those exports are removed with it."""

    def __init__(self, work: str, workload: str, seed: int, sf: float):
        self.root = os.path.join(work, "data")
        self.prefix = f"pb-{workload}-s{seed}"
        self.seed, self.sf = seed, sf
        self.dirs: list[str] = []
        self.gen_s = 0.0
        self.bytes = 0

    def _new(self, role: str) -> str:
        d = os.path.join(self.root, f"{self.prefix}-{role}")
        self._drop_exports(d)
        shutil.rmtree(d, ignore_errors=True)
        self.dirs.append(d)
        return d

    def full(self, role: str, sf: float) -> str:
        t0 = time.perf_counter()
        d = self._new(role)
        self.bytes += gen.write(gen.tables(self.seed, sf), d)
        self.gen_s += time.perf_counter() - t0
        return d

    def corpus(self, base: str, index: int) -> str:
        """`base` with a fresh documents/embeddings corpus number `index`."""
        t0 = time.perf_counter()
        d = self._new(f"p{index}")
        os.makedirs(d)
        for name in os.listdir(base):
            shutil.copyfile(os.path.join(base, name), os.path.join(d, name))
        gen.write(gen.corpus_tables(self.seed, self.sf, index), d)
        self.gen_s += time.perf_counter() - t0
        return d

    @staticmethod
    def _drop_exports(d: str) -> None:
        shutil.rmtree(os.path.join(ROOT, ".tmp", os.path.basename(d)), ignore_errors=True)

    def cleanup(self) -> None:
        for d in self.dirs:
            self._drop_exports(d)
        shutil.rmtree(self.root, ignore_errors=True)


def prepare_env(work: str, trace: bool) -> None:
    """Point every scratch location of Python, the JVM, Spark and the model
    store into `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the traced run reads every job and stage of the run from the status
        # store, whose default retention (1000) one workload already exceeds
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    }
    if trace:
        # Parquet's vectored reads run outside the task thread, so Spark's task
        # input metrics count only the footers (a full scan of a 1 MB lineitem
        # file read as 2.4 KB). The traced run reads sequentially, so
        # spark.input_bytes counts the bytes the scans read.
        confs["spark.hadoop.parquet.hadoop.vectored.io.enabled"] = "false"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(CPUS),
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": confs["spark.local.dir"],
            "DUCKDB_ML_SPARK_MODELS_DIR": os.path.join(work, "models"),
            "TMPDIR": tmp,
            # every JVM, the spark-submit launcher included: no hsperfdata
            # files, temporary files under the work dir
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in args) + " pyspark-shell",
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR


class Tracer:
    """Traced-run bookkeeping: job groups, status-store reads, wrappers."""

    def __init__(self, spark):
        import tracing as tr

        self.tr = tr
        self.sc = spark.sparkContext
        self.wrappers = tr.Wrappers()
        self.wrappers.install(type(spark.range(1)))
        self.reader = tr.StatusReader(spark)

    def group(self, tag: str) -> None:
        self.sc.setJobGroup(tag, tag)

    def skip(self) -> None:
        """Forget jobs and executions started outside query windows."""
        self.reader.settle()
        self.reader.new_jobs()
        self.reader.python_metrics()

    def snapshot(self) -> dict:
        return dict(self.wrappers.layers, gc_s=self.reader.gc_seconds())

    def after_query(self, rec: dict, tag: str, tw0: float, tw1: float) -> None:
        r = self.reader
        r.settle()
        jm = r.job_metrics(r.new_jobs(), {f"{tag}:build", f"{tag}:exec"})
        m = dict(jm["metrics"])
        m.update(r.python_metrics())
        wall = tw1 - tw0
        covered = self.tr.union_length(jm["every"], tw0, tw1)
        attributed = self.tr.union_length(jm["tagged"], tw0, tw1)
        m["driver.gap_s"] = wall - covered
        m["trace.attributed_s"] = attributed
        residual = wall - attributed - m["driver.gap_s"]
        m["trace.residual_s"] = residual
        rec["layers"] = m
        rec["attribution_ok"] = abs(residual) <= max(
            ATTRIBUTION_TOL_S, ATTRIBUTION_TOL_FRAC * wall
        )


def run_query(spark, name, fn, sf_dir, tag, tracer) -> dict:
    rec = {"query": name, "ok": False}
    if tracer:
        tracer.group(f"{tag}:build")
    tw0, t0 = time.time(), time.perf_counter()
    try:
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        if tracer:
            tracer.group(f"{tag}:exec")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        rec.update(ok=True, build_s=t1 - t0, exec_s=t2 - t1, wall_s=t2 - t0)
    except Exception as e:  # noqa: BLE001 — a failing row must not stop the workload
        rec.update(wall_s=time.perf_counter() - t0, error=str(e).splitlines()[0][:300])
        log(f"{tag} FAILED: {rec['error']}")
    tw1 = time.time()
    if tracer:
        tracer.group("perfbench:aux")
        try:
            tracer.after_query(rec, tag, tw0, tw1)
        except Exception:  # noqa: BLE001 — auxiliary: log and skip
            rec["trace_skipped"] = True  # counted in trace.skipped_reads
            log(f"status-store read after {tag} skipped:\n{traceback.format_exc()}")
    return rec


def probe(spark) -> float | None:
    """Host-noise probe: a fixed small job, timed. max() cannot overflow
    under ANSI mode, unlike sum() of 64-bit hashes."""
    from pyspark.sql import functions as F

    try:
        t0 = time.perf_counter()
        spark.range(0, 200_000, 1, CPUS).select(F.max(F.xxhash64("id"))).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001 — auxiliary: log and skip
        log(f"probe skipped: {str(e).splitlines()[0][:200]}")
        return None


def check_pass(spark, qs, oracles, rows, check_dir, work, n_lineitem) -> tuple[dict, float]:
    """Untimed correctness pass. Returns per-row verdicts and DuckDB walls, and
    the seconds spent in DuckDB: its timed runs plus, for the hash check's own
    DuckDB run, one more median wall per oracle row."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.testing import compare_to_oracle, duckdb_connection

    con = duckdb_connection(check_dir)
    con.execute(f"SET threads TO {CPUS}")
    out = {}
    duck_s = 0.0
    for name in rows:
        res = {"kind": "rows-only"}
        t0 = time.perf_counter()
        try:
            df = qs[name](spark, check_dir)
            if name in oracles:
                rep = compare_to_oracle(
                    df, oracles[name], con, dump_to=os.path.join(work, "diagnostics"), name=name
                )
                walls: list[float] = []
                while len(walls) < DUCK_MIN_RUNS or (
                    len(walls) < DUCK_MAX_RUNS and sum(walls) < DUCK_MIN_TOTAL_S
                ):
                    td = time.perf_counter()
                    con.execute(oracles[name]).fetchall()
                    walls.append(time.perf_counter() - td)
                duck_s += sum(walls) + median(walls)
                res = {
                    "kind": "oracle",
                    "ok": rep["match"],
                    "report": rep,
                    "duckdb_s": median(walls),
                }
            elif name in SHAPE_ROWS:
                cols = SHAPE_ROWS[name]
                p = F.col(cols[-1])
                bad = p.isNull() | F.isnan(p) | (F.abs(p) > F.lit(1e30))
                got = df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.when(bad, 1).otherwise(0)).cast("long").alias("bad"),
                ).first()
                res = {
                    "kind": "shape",
                    "ok": tuple(df.columns) == cols and got.n == n_lineitem and got.bad == 0,
                    "rows": got.n,
                    "non_finite": got.bad,
                    "columns": df.columns,
                }
            else:
                res = {"kind": "rows-only", "ok": True, "rows": df.count()}
        except Exception as e:  # noqa: BLE001 — reported as a failed check
            res = {"kind": res["kind"], "ok": False, "error": str(e).splitlines()[0][:300]}
        res["wall_s"] = time.perf_counter() - t0
        if not res["ok"]:
            log(f"CHECK FAILED {name}: {json.dumps(res, default=str)[:600]}")
        out[name] = res
    con.close()
    return out, duck_s


def scan_check(spark, reader, path: str) -> dict:
    """Traced runs: a full scan of `path` must report at least the bytes of
    its column chunks in spark.input_bytes."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    chunks = sum(
        md.row_group(g).column(c).total_compressed_size
        for g in range(md.num_row_groups)
        for c in range(md.num_columns)
    )
    reader.settle()
    reader.new_jobs()
    spark.sparkContext.setJobGroup("perfbench:scan_check", "perfbench:scan_check")
    spark.read.parquet(path).write.format("noop").mode("overwrite").save()
    reader.settle()
    got = reader.job_metrics(reader.new_jobs(), set())["metrics"]["spark.input_bytes"]
    reader.python_metrics()
    return {"path": os.path.basename(path), "input_bytes": got, "column_chunk_bytes": chunks,
            "ok": got >= chunks}


def quantile(xs, q: int) -> float:
    """The q-th percentile (statistics.quantiles, exclusive method)."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100)[q - 1]


def module_of_rows(rows, modules) -> dict[str, str]:
    import importlib

    from duckdb_ml_spark.plans.relational import RELATIONAL_QUERIES

    owner = {name: m for name, (m, _fn) in EXTRA_ROWS.items() if m in modules}
    for m in modules:
        if m in owner.values():
            continue
        reg = (
            RELATIONAL_QUERIES
            if m == "plans.relational"
            else importlib.import_module(f"duckdb_ml_spark.{m}").QUERIES
        )
        for n in reg:
            owner[n] = m
    missing = [r for r in rows if r not in owner]
    if missing:
        raise SystemExit(f"rows not registered by the workload's modules: {missing}")
    return {r: owner[r] for r in rows}


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def layer_metrics(passes, snaps, owner, wl) -> dict:
    """Per-layer metrics of a traced run, as means per pass over its fixed
    number of passes (so counts repeat exactly for a seed)."""
    import tracing

    # every layer is listed, also where this workload never calls it
    m: dict[str, float] = defaultdict(float)
    for mod in wl.modules:
        m[f"{mod}.build_s"] = m[f"{mod}.exec_s"] = 0.0
    for key in tracing.LAYER_KEYS:
        m[key] = 0.0
    m["trace.attribution_misses"] = m["trace.skipped_reads"] = 0.0
    for p in passes:
        for r in p["queries"]:
            lay = r.get("layers", {})
            for k, v in lay.items():
                m[k] += v
            mod = owner[r["query"]]
            m[f"{mod}.build_s"] += r.get("build_s", 0.0)
            m[f"{mod}.exec_s"] += r.get("exec_s", 0.0)
            m["driver.build_s"] += r.get("build_s", 0.0)
            m["driver.exec_s"] += r.get("exec_s", 0.0)
            # a query whose status-store read was skipped has no attribution:
            # it is a miss, and counted apart as well
            m["trace.attribution_misses"] += 0 if r.get("attribution_ok", False) else 1
            m["trace.skipped_reads"] += 1 if r.get("trace_skipped") else 0
            m["trace.unattributed_s"] -= lay.get("trace.attributed_s", 0.0) + lay.get(
                "driver.gap_s", 0.0
            )
            if r["query"] in PREDICT_ROWS:
                m["functions.ml_pred_exec_s"] += r.get("exec_s", 0.0)
        m["trace.unattributed_s"] += p["wall_s"]
    for before, after in snaps:
        for k in set(before) | set(after):
            m["spark.jvm_gc_s" if k == "gc_s" else k] += after.get(k, 0.0) - before.get(k, 0.0)
    out = {k: v / len(passes) for k, v in m.items()}
    out["spark.core_util"] = (
        m["spark.executor_run_s"] / (m["driver.exec_s"] * CPUS) if m["driver.exec_s"] else 0.0
    )
    # bytes left in the sinks' output directories per byte Spark scanned (the
    # token-shard sink writes from Python, so Spark's output_bytes misses it)
    out["write_amp"] = (
        m["sinks.bytes_written"] / m["spark.input_bytes"] if m["spark.input_bytes"] else 0.0
    )
    out["trace.pass_s"] = median([p["wall_s"] for p in passes])
    for k in ("trace.attribution_misses", "trace.skipped_reads"):
        out[k] = m[k]  # totals over the run, not means per pass
    return dict(sorted(out.items()))


def main(argv=None) -> int:
    args = parse_args(argv)
    wl = WORKLOADS[args.workload]
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "duckdb_ml_spark")
    ):
        log("no __spark_entry__.py / duckdb_ml_spark here: run from the repository root")
        return 2
    rows = wl.rows[: args.rows] if args.rows else wl.rows
    tag0 = f"{wl.name}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".bench_work", tag0)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    inputs = Inputs(work, wl.name, args.seed, args.sf)
    main_dir = inputs.full("main", args.sf)
    hashes = gen.file_hashes(main_dir)
    prepare_env(work, bool(args.trace))

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entry
    from duckdb_ml_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", sf_dir=main_dir)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return measure(args, wl, rows, spark, entry, inputs, main_dir, hashes, get_spark_s, work)
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        inputs.cleanup()
        for sub in ("tmp", "spark-local", "warehouse", "models"):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        if not os.listdir(work):  # keep check-failure dumps, if any
            os.rmdir(work)
        log(f"stop {time.perf_counter() - t0:.2f}s, run {time.perf_counter() - T_START:.2f}s")


def builders(entry) -> dict:
    """The registry's builders plus the workloads' rows outside it."""
    import importlib

    qs = dict(entry.queries())
    for name, (mod, fn) in EXTRA_ROWS.items():
        qs[name] = getattr(importlib.import_module(f"duckdb_ml_spark.{mod}"), fn)
    return qs


def measure(args, wl, rows, spark, entry, inputs, main_dir, hashes, get_spark_s, work) -> int:
    import numpy as np

    qs = builders(entry)
    oracles = entry.oracle_sql()
    owner = module_of_rows(rows, wl.modules)
    n_li = gen.sizes(args.sf)["lineitem"]

    # set-up: the check pass on the timed input (pass 0 of a fresh-corpus
    # workload) caches codegen, and on a warm workload also the memos and
    # artifacts of the input the timed passes read
    check_dir = inputs.corpus(main_dir, 0) if wl.fresh_corpus else main_dir
    t_check = time.perf_counter()
    checks, duck_s = check_pass(spark, qs, oracles, rows, check_dir, work, n_li)
    check_s = time.perf_counter() - t_check
    setup_s = time.perf_counter() - T_START - inputs.gen_s - duck_s
    correct = all(c["ok"] for c in checks.values())
    log(f"setup {setup_s:.2f}s (get_spark {get_spark_s:.2f}s, inputs {inputs.gen_s:.2f}s, "
        f"check pass {check_s:.2f}s of which DuckDB {duck_s:.2f}s)")

    tracer = Tracer(spark) if args.trace else None
    n_passes = args.passes or (TRACE_PASSES if args.trace else 0)
    probes = [probe(spark)]
    passes, snaps = [], []
    deadline = time.perf_counter() + args.seconds
    i = 0
    while True:
        sf_dir = inputs.corpus(main_dir, i + 1) if wl.fresh_corpus else main_dir
        order = [rows[j] for j in np.random.default_rng([args.seed, 2, i]).permutation(len(rows))]
        if tracer:
            tracer.skip()
            before = tracer.snapshot()
        tp = time.perf_counter()
        recs = [
            run_query(spark, n, qs[n], sf_dir, f"{wl.name}:{i}:{n}", tracer) for n in order
        ]
        passes.append({"pass": i, "sf_dir": os.path.basename(sf_dir),
                       "wall_s": time.perf_counter() - tp, "queries": recs})
        if tracer:
            snaps.append((before, tracer.snapshot()))
        probes.append(probe(spark))
        i += 1
        if n_passes:
            if i >= n_passes:
                break
        elif i >= MIN_PASSES and time.perf_counter() >= deadline:
            break
    log(f"timed passes {sum(p['wall_s'] for p in passes):.2f}s ({len(passes)})")
    scan = None
    if tracer:
        tracer.wrappers.uninstall()
        try:
            scan = scan_check(spark, tracer.reader, os.path.join(main_dir, "lineitem.parquet"))
        except Exception as e:  # noqa: BLE001 — reported as a failed scan check
            scan = {"ok": False, "error": str(e).splitlines()[0][:300]}
        if not scan["ok"]:
            log(f"SCAN CHECK FAILED: {scan}")

    recs = [r for p in passes for r in p["queries"]]
    attempted, failed = len(recs), sum(1 for r in recs if not r["ok"])
    walls = [r["wall_s"] for r in recs if r["ok"]]
    per_query = defaultdict(list)
    for r in recs:
        if r["ok"]:
            per_query[r["query"]].append(r["wall_s"])
    # geometric mean over oracle rows of (Spark median wall / DuckDB median
    # wall): one row's noisy DuckDB timing cannot dominate it as in a sum
    ratios = [
        median(per_query[n]) / c["duckdb_s"]
        for n, c in checks.items()
        if c["kind"] == "oracle" and per_query[n] and c["duckdb_s"] > 0
    ]
    duckdb_ratio = math.exp(statistics.fmean(map(math.log, ratios))) if ratios else 0.0

    def pass_sum(p, names, key):
        return sum(r.get(key, 0.0) for r in p["queries"] if r["query"] in names and r["ok"])

    pred = [r for r in rows if r in PREDICT_ROWS]
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median([p["wall_s"] for p in passes]), "s"),
        "query_p50_s": (quantile(walls, 50), "s"),
        "driver_peak_mb": (vm_hwm_mb(), "MiB"),
    }
    side = {
        "query_p90_s": (quantile(walls, 90), "s"),
        "duckdb_ratio": (duckdb_ratio, "x"),
        "failed_frac": (failed / attempted, "1"),
        "inputs_gen_s": (inputs.gen_s, "s"),
        "session.get_spark_s": (get_spark_s, "s"),
        "check_pass_s": (check_s, "s"),
    }
    if any(r in TRAIN_ROWS for r in rows):
        side["train_s"] = (median([pass_sum(p, TRAIN_ROWS, "build_s") for p in passes]), "s")
    if pred:
        side["predict_rows_per_s"] = (
            median([len(pred) * n_li / max(pass_sum(p, pred, "exec_s"), 1e-9) for p in passes]),
            "rows/s",
        )
    from pyspark import SparkContext

    jvm_pid = getattr(SparkContext._gateway, "proc", None)
    layers = {}
    if tracer:
        layers = layer_metrics(passes, snaps, owner, wl)
        layers["session.get_spark_s"] = get_spark_s
        layers["jvm.peak_rss_mb"] = vm_hwm_mb(jvm_pid.pid) if jvm_pid else 0.0
    ok_probes = [p for p in probes if p is not None]
    record = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "sf": args.sf,
        "cpus": CPUS,
        "rows": list(rows),
        "input_bytes": inputs.bytes,
        "input_rows": gen.sizes(args.sf),
        "input_hashes": hashes,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "side_metrics": {k: {"value": v, "unit": u} for k, (v, u) in side.items()},
        "per_layer": layers,
        "scan_check": scan,
        "n_passes": len(passes),
        "n_query_samples": len(walls),
        "probe": {
            "readings_s": probes,
            "median_s": median(ok_probes),
            "ceiling_s": PROBE_CEILING_S,
            "over_ceiling": sum(1 for p in ok_probes if p > PROBE_CEILING_S),
        },
        "checks": checks,
        "passes": passes,
    }
    res_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{wl.name}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    import benchmark_spec

    names = benchmark_spec.metric_names("per_layer" if args.trace else "end_to_end")
    source = record["end_to_end"]
    if args.trace:
        units = benchmark_spec.units("per_layer")
        source = {k: {"value": layers.get(k, 0.0), "unit": units[k]} for k in names}
    summary = {k: record[k] for k in ("workload", "seed", "trace", "n_passes", "n_query_samples")}
    summary.update(
        end_to_end=record["end_to_end"], side_metrics=record["side_metrics"],
        per_layer=layers, probe=record["probe"], scan_check=scan,
        check_failures=[n for n, c in checks.items() if not c["ok"]],
    )
    print(json.dumps({"summary": summary}, default=str))
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: source[k] for k in names},
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
