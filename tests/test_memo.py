"""The engine memo (duckdb_ml_spark.memo): session scope, directory
fingerprints, whole-directory LRU eviction, counters."""

import gc
import os
import shutil
import weakref

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
