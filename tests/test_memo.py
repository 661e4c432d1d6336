"""The engine memo (duckdb_ml_spark.memo): session scope, directory
fingerprints, whole-directory LRU eviction, counters; derived directories
keyed on their sources' contents and committed by rename."""

import gc
import os
import shutil
import time
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_ml_spark import memo


class _Box:  # a weak-referenceable value
    pass


@pytest.fixture(autouse=True)
def _fresh_memo():
    memo.reset()
    yield
    memo.reset()


def _copy_tables(src, dst, names):
    os.makedirs(dst, exist_ok=True)
    for n in names:
        shutil.copyfile(os.path.join(src, f"{n}.parquet"), os.path.join(dst, f"{n}.parquet"))
    return str(dst)


def _rewrite_prefix(d, name, n_rows):
    """Rewrite d/name.parquet in place with its first n_rows rows."""
    path = os.path.join(d, f"{name}.parquet")
    pq.write_table(pq.read_table(path).slice(0, n_rows), path)


def test_two_sessions_never_share_an_entry(spark, tmp_path):
    key = (str(tmp_path), "probe")
    a = memo.memo(spark, key, _Box)
    assert memo.memo(spark, key, _Box) is a
    other = spark.newSession()
    b = memo.memo(other, key, _Box)
    assert b is not a
    assert memo.stats()["entries"] == 1  # the first session's entry is gone
    # back on the first session: the memo resets again and rebuilds
    assert memo.memo(spark, key, _Box) not in (a, b)


def test_rewritten_table_rebuilds_its_artifacts(spark, sf_dir, tmp_path):
    from duckdb_ml_spark.operators.pipeline import corpus_shingles
    from duckdb_ml_spark.operators.pq import pq_codebooks_for
    from duckdb_ml_spark.tables import load

    d = _copy_tables(sf_dir, tmp_path / "sf", ("documents", "embeddings"))
    docs = load(spark, d, "documents")
    books = pq_codebooks_for(spark, d)
    sh = corpus_shingles(spark, d)
    n_docs, n_sh = docs.count(), sh.count()
    # warm: every artifact is served from the memo
    assert load(spark, d, "documents") is docs
    assert pq_codebooks_for(spark, d) is books
    assert corpus_shingles(spark, d) is sh

    _rewrite_prefix(d, "documents", n_docs // 2)
    _rewrite_prefix(d, "embeddings", 300)
    docs2 = load(spark, d, "documents")
    assert docs2 is not docs and docs2.count() == n_docs // 2
    sh2 = corpus_shingles(spark, d)  # a localCheckpointed relation
    assert sh2 is not sh and sh2.count() < n_sh
    books2 = pq_codebooks_for(spark, d)  # a driver-side artifact
    assert books2 is not books and books2.shape == books.shape
    assert (books2 != books).any()


def test_lru_holds_at_most_max_dirs_and_releases_evicted(spark, tmp_path):
    sc = spark.sparkContext
    n = memo.MAX_DIRS + 2
    dirs = [str(tmp_path / f"d{i}") for i in range(n)]
    boxes, rdd_ids = [], []
    for d in dirs:
        os.makedirs(d)
        boxes.append(weakref.ref(memo.memo(spark, (d, "box"), _Box)))
        frame = memo.memo(
            spark, (d, "frame"),
            lambda: spark.range(100).localCheckpoint(eager=True),
        )
        rdd_ids.append(frame._jdf.queryExecution().analyzed().rdd().id())
        del frame
        assert memo.stats()["dirs"] <= memo.MAX_DIRS
    gc.collect()
    persisted = sc._jsc.getPersistentRDDs()
    evicted, kept = slice(0, n - memo.MAX_DIRS), slice(n - memo.MAX_DIRS, n)
    assert all(b() is None for b in boxes[evicted])
    assert not any(persisted.containsKey(i) for i in rdd_ids[evicted])
    assert all(b() is not None for b in boxes[kept])
    assert all(persisted.containsKey(i) for i in rdd_ids[kept])


def test_lru_evicts_the_least_recently_used_directory(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(memo, "MAX_DIRS", 2)  # an order needs two held directories
    a, b, c = (str(tmp_path / n) for n in "abc")
    box_a = memo.memo(spark, (a, "box"), _Box)
    memo.memo(spark, (b, "box"), _Box)
    assert memo.memo(spark, (a, "box"), _Box) is box_a  # a is now the most recent
    memo.memo(spark, (c, "box"), _Box)  # evicts b, keeps a
    assert list(memo._DIRS) == [a, c]


def test_drop_leaves_an_unheld_directory_alone(spark, tmp_path):
    held = (str(tmp_path), "box")
    box = memo.memo(spark, held, _Box)
    before = memo.stats()
    memo.drop((str(tmp_path / "other"), "box"))
    after = memo.stats()
    assert list(memo._DIRS) == [str(tmp_path)]  # nothing registered or evicted
    assert memo.memo(spark, held, _Box) is box
    assert after["misses"] == before["misses"]


def test_counters_keep_gate_and_drop(spark, tmp_path):
    key = (str(tmp_path), "n")
    before = memo.stats()
    assert memo.memo(spark, key, lambda: 1) == 1
    assert memo.memo(spark, key, lambda: 2) == 1
    after = memo.stats()
    assert after["misses"] - before["misses"] == 1
    assert after["hits"] - before["hits"] == 1
    assert after["build_s"] >= before["build_s"]
    memo.drop(key)
    assert memo.memo(spark, key, lambda: 3) == 3
    # a declined value is returned but not stored
    big = (str(tmp_path), "big")
    assert memo.memo(spark, big, lambda: [0] * 5, keep=lambda v: len(v) < 5) == [0] * 5
    assert memo.memo(spark, big, lambda: [], keep=lambda v: len(v) < 5) == []


def _rewrite_shifted(d, name, key, n_rows):
    """Rewrite d/name.parquet in place with n_rows rows: the first n_rows
    keys, every other column taken from the last n_rows rows."""
    path = os.path.join(d, f"{name}.parquet")
    t = pq.read_table(path)
    head, tail = t.slice(0, n_rows), t.slice(t.num_rows - n_rows, n_rows)
    pq.write_table(
        pa.table([(head if c == key else tail)[c] for c in t.column_names], names=t.column_names),
        path,
    )


def test_derived_dir_fingerprints_every_source_and_evicts(tmp_path, monkeypatch):
    """(a) the directory changes when ANY source table's content changes,
    a secondary one included; (b) a superseded directory is reaped only
    after the new one is complete (exists under its final name) and only
    once cold (>6 h untouched): a concurrent session may still read it;
    (c) params are part of the key; (d) other names are never touched."""
    monkeypatch.setattr(memo, "_TMP", str(tmp_path / "tmp"))
    sf = tmp_path / "sfX"
    sf.mkdir()
    (sf / "lineitem.parquet").write_bytes(b"AAAA")
    (sf / "supplier.parquet").write_bytes(b"BBBB")
    srcs = ["lineitem", "supplier"]
    writes = []

    def write(d):
        os.makedirs(d)
        writes.append(d)

    def fail(d):
        os.makedirs(d)
        raise RuntimeError("write failed")

    d1 = memo.derived_dir(str(sf), srcs, "lay", write)
    assert os.path.isdir(d1) and len(writes) == 1
    assert memo.derived_dir(str(sf), srcs, "lay", write) == d1 and len(writes) == 1

    # change ONLY the secondary source → new dir; a failed write of it
    # leaves the old one, even when cold
    old = time.time() - 7 * 3600
    os.utime(d1, (old, old))
    (sf / "supplier.parquet").write_bytes(b"BBBB2")
    with pytest.raises(RuntimeError):
        memo.derived_dir(str(sf), srcs, "lay", fail)
    assert os.path.exists(d1), "must not evict before the new directory completes"

    # the new dir completes, but a sibling younger than the TTL survives
    os.utime(d1, None)
    d2 = memo.derived_dir(str(sf), srcs, "lay", write)
    assert d2 != d1 and len(writes) == 2
    assert os.path.exists(d1), "must not evict a sibling younger than the TTL"

    # age d1 past the TTL → reaped on the next call
    os.utime(d1, (old, old))
    memo.derived_dir(str(sf), srcs, "lay", write)
    assert not os.path.exists(d1), "cold superseded fingerprint must be evicted"

    # params are part of the key; other names are never touched
    d3 = memo.derived_dir(str(sf), srcs, "lay", write, params="nb64")
    assert d3 != d2
    other = memo.derived_dir(str(sf), ["lineitem"], "other_lay", write)
    os.utime(other, (old, old))
    os.utime(d2, (old, old))
    memo.derived_dir(str(sf), srcs, "lay", write, params="nb64")
    assert not os.path.exists(d2), "cold superseded sibling (params differ) evicted"
    assert os.path.exists(other), "eviction must not touch other names"


def test_derived_dir_commits_by_rename(tmp_path, monkeypatch):
    """A write that raises leaves no final directory and no staging
    directory, and the next call rebuilds; a writer that loses the rename
    to a concurrent one keeps the winner's directory and drops its own."""
    monkeypatch.setattr(memo, "_TMP", str(tmp_path / "tmp"))
    sf = tmp_path / "sfY"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"CCCC")

    def fail(d):
        os.makedirs(d)
        open(os.path.join(d, "part-0"), "w").close()
        raise RuntimeError("write failed")

    with pytest.raises(RuntimeError):
        memo.derived_dir(str(sf), ["orders"], "art", fail)
    assert os.listdir(memo.work_dir(str(sf))) == []

    def write(d):
        os.makedirs(d)
        open(os.path.join(d, "part-0"), "w").close()

    out = memo.derived_dir(str(sf), ["orders"], "art", write)
    assert os.listdir(out) == ["part-0"]
    assert os.listdir(memo.work_dir(str(sf))) == [os.path.basename(out)]

    shutil.rmtree(out)

    def lose_race(d):
        write(d)
        os.makedirs(out)  # a concurrent writer commits first
        open(os.path.join(out, "winner"), "w").close()

    assert memo.derived_dir(str(sf), ["orders"], "art", lose_race) == out
    assert os.listdir(out) == ["winner"]
    assert os.listdir(memo.work_dir(str(sf))) == [os.path.basename(out)]


def _race_writer(tmp, sf, barrier, results):
    memo._TMP = tmp
    wrote = []

    def write(d):
        os.makedirs(d)
        with open(os.path.join(d, "part-0"), "w") as f:
            f.write(str(os.getpid()))
        wrote.append(d)
        time.sleep(0.2)  # hold the window open for the other writers

    barrier.wait(timeout=60)
    results.put((memo.derived_dir(sf, ["orders"], "art", write), bool(wrote)))


def test_derived_dir_concurrent_writers_commit_one_copy(tmp_path):
    """Writer processes, two more than the usable cores (at most 10), race
    on one missing directory: all return the same complete directory and
    every loser's staging copy is gone."""
    import multiprocessing

    sf = tmp_path / "sfZ"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"DDDD")
    tmp = str(tmp_path / "tmp")
    n = min(len(os.sched_getaffinity(0)), 8) + 2
    ctx = multiprocessing.get_context("spawn")
    barrier, results = ctx.Barrier(n), ctx.Queue()
    procs = [ctx.Process(target=_race_writer, args=(tmp, str(sf), barrier, results)) for _ in range(n)]
    for p in procs:
        p.start()
    got = [results.get(timeout=120) for _ in procs]
    for p in procs:
        p.join(timeout=60)
        assert not p.is_alive() and p.exitcode == 0
    paths = {path for path, _ in got}
    assert len(paths) == 1
    out = paths.pop()
    assert sum(wrote for _, wrote in got) >= 2  # the race really ran
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]
    assert os.listdir(out) == ["part-0"]


def test_in_place_rewrite_rebuilds_derived_dirs(spark, sf_dir, tmp_path, request):
    """Rewriting tables in place under the same path rebuilds the on-disk
    artifacts derived from them: the persisted IVF index answers like a
    fresh IVF build, and the compaction and CSV roundtrip rows match their
    DuckDB oracles on the new data."""
    from duckdb_ml_spark.operators.similarity import QUERIES as SIM
    from duckdb_ml_spark.sources.readers import QUERIES as SRC
    from duckdb_ml_spark.tables import TABLE_NAMES
    from duckdb_ml_spark.testing import compare_to_oracle, duckdb_connection

    d = _copy_tables(sf_dir, tmp_path / f"sf_rewrite_{os.getpid()}", TABLE_NAMES)
    request.addfinalizer(lambda: shutil.rmtree(memo.work_dir(d), ignore_errors=True))

    def rows(name):
        return pq.ParquetFile(os.path.join(d, f"{name}.parquet")).metadata.num_rows

    def check():
        got = {tuple(r) for r in SIM["sim_topk_ivf_index"].builder(spark, d).collect()}
        assert got == {tuple(r) for r in SIM["sim_topk_ivf"].builder(spark, d).collect()}
        con = duckdb_connection(d)
        try:
            for name in ("sink_compaction", "source_csv_roundtrip"):
                df = SRC[name].builder(spark, d)
                assert compare_to_oracle(df, SRC[name].oracle, con)["match"], name
        finally:
            con.close()
        comp = SRC["sink_compaction"].builder(spark, d).collect()
        assert sum(r.n_docs for r in comp) == rows("documents")
        assert SRC["source_csv_roundtrip"].builder(spark, d).count() == rows("supplier")

    check()
    for name, key in (("embeddings", "vec_id"), ("documents", "doc_id"), ("supplier", "s_suppkey")):
        _rewrite_shifted(d, name, key, rows(name) * 3 // 5)
    check()
