"""The engine's one memo for dataset artifacts.

Table reads, built query plans, row counts, collected matrices, signatures,
codebooks, merge tables, range bounds and materialized relations are all
pure functions of an input directory, and a session reuses them across its
queries. Every such artifact goes through `memo(spark, key, build)`:

- Entries belong to the live Spark session, named by the JVM session's
  `sessionUUID()`. The engine runs one session at a time, so a call from
  another session first resets the memo: two sessions never share an entry.
- `key[0]` (recursively, for nested tuples) is the directory the artifact
  derives from. The memo fingerprints that directory with one `scandir` of
  (name, size, mtime_ns) per entry; when a table is rewritten in place the
  fingerprint moves and the directory's entries are rebuilt. A key whose
  root is not a directory fingerprints as `None` (never stale).
  Engine exports go to `.tmp/<basename>`, never into the input directory,
  so a warm directory's fingerprint is stable.
- At most `MAX_DIRS` directories are held; the least recently used one is
  evicted whole. Evicted entries are released: a localCheckpointed frame is
  unpersisted, so a frame the memo built must not be run after its
  directory has been evicted or rewritten.
"""

from __future__ import annotations

import os
import time
from collections import OrderedDict

from pyspark.sql import DataFrame

# Directories held at once. One full `__spark_entry__.queries()` cycle keys
# every artifact on its input directory, and nothing else: 1 directory
# (measured at sf0.001 and sf0.01, every registered row built). A job that
# moves to a fresh directory per pass holds only the one it reads.
MAX_DIRS = 1

# session uuid, then directory -> (fingerprint, {key: value}) in LRU order
_SESSION: list = [None]
_DIRS: OrderedDict = OrderedDict()
_STATS = {"hits": 0, "misses": 0, "build_s": 0.0}


def _dir_of(key):
    while isinstance(key, tuple):
        key = key[0]
    return key


def _fingerprint(d):
    try:
        with os.scandir(d) as it:  # DirEntry caches its stat()
            return sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns) for e in it)
    except (OSError, TypeError):
        return None


def _release(value) -> None:
    for v in value if isinstance(value, (tuple, list)) else (value,):
        if isinstance(v, DataFrame):
            try:
                plan = v._jdf.queryExecution().analyzed()
                if plan.getClass().getSimpleName() == "LogicalRDD":  # localCheckpoint
                    plan.rdd().unpersist(False)
            except Exception:  # noqa: BLE001 — the building session may be stopped
                pass


def _drop_dir(d) -> None:
    for value in _DIRS.pop(d)[1].values():
        _release(value)


def _entries(spark, d) -> dict:
    sid = spark._jsparkSession.sessionUUID()
    if _SESSION[0] != sid:
        reset()
        _SESSION[0] = sid
    fp = _fingerprint(d)
    if d in _DIRS and _DIRS[d][0] != fp:
        _drop_dir(d)
    if d not in _DIRS:
        _DIRS[d] = (fp, {})
        while len(_DIRS) > MAX_DIRS:
            _drop_dir(next(iter(_DIRS)))
    _DIRS.move_to_end(d)
    return _DIRS[d][1]


def memo(spark, key, build, keep=None):
    """`build()`'s value for `key` in this session, built once while the
    directory `key` names is unchanged. A key rooted at None (a caller
    without a cache_key) is not memoized. `keep(value)` False leaves a built
    value unstored (size-gated artifacts)."""
    d = _dir_of(key)
    if d is None:
        return build()
    entries = _entries(spark, d)
    if key in entries:
        _STATS["hits"] += 1
        return entries[key]
    _STATS["misses"] += 1
    t0, before = time.perf_counter(), _STATS["build_s"]
    value = build()
    # set, not added to: builds nested in this one count once
    _STATS["build_s"] = before + time.perf_counter() - t0
    if keep is None or keep(value):
        _entries(spark, d)[key] = value  # looked up again: the build may have evicted `d`
    return value


def drop(key) -> None:
    """Forget one entry (a caller that found it stale against the data).
    A directory the memo does not hold is left unregistered."""
    d = _dir_of(key)
    if d in _DIRS:
        _release(_DIRS[d][1].pop(key, None))


def reset() -> None:
    """Release and forget every entry."""
    while _DIRS:
        _drop_dir(next(iter(_DIRS)))
    _SESSION[0] = None


def stats() -> dict:
    """Counters since process start (hits, misses, build seconds) plus the
    directories and entries held now."""
    return {**_STATS, "dirs": len(_DIRS), "entries": sum(len(e) for _, e in _DIRS.values())}
