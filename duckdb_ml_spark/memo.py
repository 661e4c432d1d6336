"""The engine's one rule for artifacts derived from an input directory:
an artifact is reused while the input it derives from is unchanged, and
rebuilt when that input moves. Two stores follow it.

In memory, `memo(spark, key, build)` holds table reads, built query plans,
row counts, collected matrices, signatures, codebooks, merge tables, range
bounds and materialized relations:

- Entries belong to the live Spark session, named by the JVM session's
  `sessionUUID()`. The engine runs one session at a time, so a call from
  another session first resets the memo: two sessions never share an entry.
- `key[0]` (recursively, for nested tuples) is the directory the artifact
  derives from. The memo fingerprints that directory with one `scandir` of
  (name, size, mtime_ns) per entry; when a table is rewritten in place the
  fingerprint moves and the directory's entries are rebuilt. A key whose
  root is not a directory fingerprints as `None` (never stale).
- At most `MAX_DIRS` directories are held; the least recently used one is
  evicted whole. Evicted entries are released: a localCheckpointed frame is
  unpersisted, so a frame the memo built must not be run after its
  directory has been evicted or rewritten.

On disk, `derived_dir(sf_dir, sources, name, write)` holds exports, layouts
and indexes under `.tmp/<basename(sf_dir)>/<name>-<fp>`, never inside the
input directory (so a warm input's fingerprint is stable):

- `fp` hashes (path, size, mtime_ns) of every file of the source tables the
  artifact reads, plus the derivation's parameters: rewriting a source in
  place names a new directory.
- A directory is complete if and only if it exists under its final name.
  It is written into a sibling staging directory and renamed into place;
  a writer that loses the rename to a concurrent one discards its own copy.
- Siblings of the same name (superseded fingerprints, abandoned staging
  directories) are removed once untouched for `_COLD_S` seconds, so a
  concurrent session still reading an older one keeps it meanwhile.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
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

# every derived directory lives under <repo>/.tmp/<basename(sf_dir)>
_TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".tmp")
_COLD_S = 6 * 3600


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


def work_dir(sf_dir: str) -> str:
    """`.tmp/<basename(sf_dir)>`: the one place the engine writes for an
    input (derived directories, plus per-call outputs such as shards)."""
    return os.path.join(_TMP, os.path.basename(sf_dir))


def _source_fingerprint(sf_dir: str, sources, params: str) -> str:
    paths = []
    for s in sources:
        src = os.path.join(sf_dir, f"{s}.parquet")
        if os.path.isdir(src):
            paths += [os.path.join(r, f) for r, _, fs in os.walk(src) for f in fs]
        elif os.path.exists(src):
            paths.append(src)
    h = hashlib.sha1()
    for p in sorted(paths):
        st = os.stat(p)
        h.update(f"{p}:{st.st_size}:{st.st_mtime_ns};".encode())
    h.update(params.encode())
    return h.hexdigest()[:10]


def derived_dir(sf_dir: str, sources, name: str, write, params: str = "") -> str:
    """The directory holding artifact `name` of the tables `sources` (names
    without `.parquet`) of `sf_dir`, derived with `params`; `write(path)`
    creates and fills `path` when no complete copy exists."""
    parent = work_dir(sf_dir)
    target = os.path.join(parent, f"{name}-{_source_fingerprint(sf_dir, sources, params)}")
    if not os.path.isdir(target):
        os.makedirs(parent, exist_ok=True)
        staging = f"{target}.staging-{uuid.uuid4().hex}"
        try:
            write(staging)
            try:
                os.rename(staging, target)
            except OSError:
                if not os.path.isdir(target):  # not a lost race
                    raise
        finally:
            shutil.rmtree(staging, ignore_errors=True)
    now = time.time()
    with os.scandir(parent) as it:
        for e in it:
            if e.name.startswith(f"{name}-") and e.path != target:
                try:
                    cold = now - e.stat().st_mtime > _COLD_S
                except OSError:
                    continue
                if cold:
                    shutil.rmtree(e.path, ignore_errors=True)
    return target
