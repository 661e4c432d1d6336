"""tools/scaleup_bench.py's derived dataset: facts and embeddings
replicated FACTOR times with shifted keys, dimensions copied, held in one
`memo.derived_dir` named by the source tables' contents and the factor."""

import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

from duckdb_ml_spark import memo
from tools import scaleup_bench


def test_derived_copy_scales_facts_and_follows_its_sources(sf_dir, tmp_path, request):
    src = str(tmp_path / f"sf_scaleup_{os.getpid()}")
    shutil.copytree(sf_dir, src)
    request.addfinalizer(lambda: shutil.rmtree(memo.work_dir(src), ignore_errors=True))
    con = duckdb.connect()
    request.addfinalizer(con.close)

    def rows(d, t):
        return pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows

    def join_count(d):
        return con.execute(
            f"SELECT count(*) FROM '{d}/lineitem.parquet' JOIN '{d}/orders.parquet'"
            " ON l_orderkey = o_orderkey"
        ).fetchone()[0]

    out = scaleup_bench.build_derived(src, 2)
    assert sorted(os.listdir(out)) == sorted(f"{t}.parquet" for t in scaleup_bench.TABLES)
    for t in scaleup_bench.TABLES:
        assert rows(out, t) == rows(src, t) * (2 if t in scaleup_bench.KEY_SHIFTS else 1), t
    assert join_count(out) == 2 * join_count(src) > 0

    # reused as is while the sources are unchanged
    mtime = os.stat(os.path.join(out, "lineitem.parquet")).st_mtime_ns
    assert scaleup_bench.build_derived(src, 2) == out
    assert os.stat(os.path.join(out, "lineitem.parquet")).st_mtime_ns == mtime

    # one source rewritten in place names a new directory, derived from it
    region = os.path.join(src, "region.parquet")
    pq.write_table(pq.read_table(region).slice(0, 2), region)
    again = scaleup_bench.build_derived(src, 2)
    assert again != out
    assert rows(again, "region") == 2


def test_warm_best_times_no_first_call():
    calls = []

    def run():
        calls.append(None)
        if len(calls) == 1:
            time.sleep(0.3)  # a cold first call: JVM start, codegen, first reads

    best = scaleup_bench.warm_best(run, 1)
    assert len(calls) == 2
    assert best < 0.15
