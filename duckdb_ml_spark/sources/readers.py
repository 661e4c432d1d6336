"""Format readers + roundtrip oracle queries.

Reference parity: CSV with header + type inference is §2.3 #5 in SURVEY.md
(`autompg.sql:12`). The roundtrip queries prove the connectors preserve types
and values: parquet view → export (deterministic) → re-read with inference →
value-hash == original view.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from duckdb_ml_spark.memo import derived_dir, work_dir
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load


def read_csv(spark: SparkSession, path: str, schema: str | None = None, **options) -> DataFrame:
    """CSV scan, header + inference by default (the reference's scan semantics);
    pass `schema` to skip the inference pass (the at-scale default)."""
    reader = spark.read.options(header=True, **options)
    return reader.csv(path, schema=schema) if schema else reader.options(inferSchema=True).csv(path)


def read_jsonl(spark: SparkSession, path: str, schema: str | None = None, **options) -> DataFrame:
    """JSON-lines scan; inferred schema unless one is provided."""
    reader = spark.read.options(**options)
    return reader.json(path, schema=schema) if schema else reader.json(path)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan — full pushdown/pruning via the native source."""
    return spark.read.parquet(path)


def _single_file(df: DataFrame, fmt: str, **options):
    """A `derived_dir` writer for the roundtrip queries: a deterministic
    single-file export (sorted rows, one partition)."""
    return lambda out: df.coalesce(1).write.format(fmt).options(**options).save(out)


def _csv_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load(spark, sf_dir, "supplier")
    out = derived_dir(
        sf_dir, ["supplier"], "supplier_csv",
        _single_file(sup.orderBy("s_suppkey"), "csv", header=True),
    )
    return read_csv(spark, out)


def _jsonl_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation")
    out = derived_dir(
        sf_dir, ["nation"], "nation_jsonl", _single_file(nat.orderBy("n_nationkey"), "json")
    )
    # project to canonical column order (JSON objects carry no order)
    return read_jsonl(spark, out).select(*nat.columns)


def _text_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-delimited TEXT roundtrip — THE pretraining corpus interchange
    format (one document per line, no schema, no quoting): documents.text →
    .txt shards → spark.read.text back. The corpus is single-line ASCII so
    line == document exactly; a general exporter would newline-escape.
    Column is aliased `text` to match the oracle's projection."""
    docs = load(spark, sf_dir, "documents")
    out = derived_dir(
        sf_dir, ["documents"], "documents_txt",
        _single_file(docs.select("text").orderBy("text"), "text"),
    )
    from pyspark.sql import functions as F

    return spark.read.text(out).select(F.col("value").alias("text"))


def _parquet_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet WRITE → native re-scan: proves the sink preserves types and
    values bit-for-bit (the format every intermediate table at 100 TB uses).
    Region is tiny; partition/order noise is removed by the deterministic
    single-file export."""
    reg = load(spark, sf_dir, "region")
    out = derived_dir(
        sf_dir, ["region"], "region_parquet", _single_file(reg.orderBy("r_regionkey"), "parquet")
    )
    return read_parquet(spark, out)


def _orc_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC export → native re-scan: Spark's second columnar format, same
    pushdown/pruning machinery as parquet (predicate pushdown, column pruning,
    vectorized reader). Customer exercises strings/decimals-as-doubles/ints;
    the oracle reads the original parquet view, so the hash proves the ORC
    sink+scan is type- and value-preserving."""
    cust = load(spark, sf_dir, "customer")
    out = derived_dir(
        sf_dir, ["customer"], "customer_orc", _single_file(cust.orderBy("c_custkey"), "orc")
    )
    return spark.read.orc(out)


def _xml_roundtrip_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML export → schema-inferred re-scan (Spark 4's built-in xml source,
    the spark-xml package merged upstream): nation exercises
    strings/ints through element-per-row markup. The oracle reads the
    original table, so the hash proves the XML sink+scan is type- and
    value-preserving; columns are re-selected in table order because XML
    schema inference returns fields alphabetically."""
    nat = load(spark, sf_dir, "nation")
    out = derived_dir(
        sf_dir, ["nation"], "nation_xml",
        _single_file(nat.orderBy("n_nationkey"), "xml", rootTag="nations", rowTag="nation"),
    )
    back = spark.read.format("xml").option("rowTag", "nation").load(out)
    return back.select(*nat.columns)


def _partitioned_parquet_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write (partitionBy(source)) → pruned re-scan.

    The layout every 100 TB corpus actually uses: one directory per partition
    value, so a filter on the partition column prunes entire directories at
    planning time — the scan below reads ONLY the selected sources' files
    (asserted via PartitionFilters in tests/test_relational.py). The query
    aggregates the re-read table per source; the oracle runs the same rollup
    on the original documents view."""
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    out = derived_dir(
        sf_dir, ["documents"], "documents_by_source",
        lambda d: docs.write.partitionBy("source").parquet(d),
    )
    back = spark.read.parquet(out)
    pruned = back.where(F.col("source").isin("src1", "src7", "src13"))
    return pruned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


_PARTITIONED_ORACLE = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
FROM documents
WHERE source IN ('src1', 'src7', 'src13')
GROUP BY source
"""


def _compaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shatter documents into 64 tiny shards, compact them back to
    size-targeted files (sinks.compact_small_files), then prove content
    preservation with a per-source rollup the oracle runs on the original
    table. The file-count collapse itself is pytest-asserted."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.sinks import compact_small_files

    docs = load(spark, sf_dir, "documents")

    def shatter_and_compact(d):
        docs.repartition(64).write.parquet(os.path.join(d, "shards"))
        compact_small_files(spark, os.path.join(d, "shards"), os.path.join(d, "compacted"))

    base = derived_dir(sf_dir, ["documents"], "compaction", shatter_and_compact)
    back = spark.read.parquet(os.path.join(base, "compacted"))
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_chars")).alias("total_chars"),
        F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
    )


_COMPACTION_ORACLE = """
SELECT source, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       count(DISTINCT md5(text)) AS n_distinct_texts
FROM documents GROUP BY source
"""


TOKEN_SHARD_SEQ_LEN = 64


def _token_shards_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary tokenized-shard emission + readback verification: write the
    corpus as uint16 .bin/.idx training shards (sinks.write_token_shards —
    one task per source, fixed 31-word lexicon, doc_id order, tail padded
    to the 64-token sequence length), then DECODE THE FILES back
    (sinks.read_token_shards_manifest) into (source, n_docs, n_tokens,
    n_seqs, stream_md5). The oracle rebuilds the identical canonical id
    stream from the raw documents and the same lexicon — the hash pairing
    proves the bytes on disk encode exactly the token stream a dataloader
    would memory-map. Byte layout (endianness, pad id, .idx offsets) is
    pytest-asserted."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.sinks import read_token_shards_manifest, write_token_shards

    out_dir = os.path.join(work_dir(sf_dir), "token_shards")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    manifest = write_token_shards(
        spark, sf_dir, out_dir, seq_len=TOKEN_SHARD_SEQ_LEN
    )  # collect forces the write before the readback plan below runs
    ndocs = spark.createDataFrame(
        [(r["source"], r["n_docs"]) for r in manifest], "source string, n_docs bigint"
    )
    back = read_token_shards_manifest(spark, out_dir, seq_len=TOKEN_SHARD_SEQ_LEN)
    return back.join(F.broadcast(ndocs), "source").select(
        "source", "n_docs", "n_tokens", "n_seqs", "stream_md5"
    )


def _token_shards_oracle() -> str:
    from duckdb_ml_spark.operators.bpe import token_id_lexicon
    from duckdb_ml_spark.operators.textnorm import tokens_sql

    lex = ", ".join(f"('{w}', {i})" for w, i in sorted(token_id_lexicon().items()))
    return f"""
WITH lex(word, id) AS (VALUES {lex}),
toks AS (SELECT doc_id, source, {tokens_sql("text")} AS ws FROM documents),
u AS (SELECT doc_id, source, unnest(ws) AS word,
             generate_subscripts(ws, 1) AS pos
      FROM toks),
ids AS (SELECT u.doc_id, u.source, u.pos, lex.id
        FROM u JOIN lex ON u.word = lex.word)
SELECT source,
       count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_tokens,
       (count(*) + {TOKEN_SHARD_SEQ_LEN - 1}) // {TOKEN_SHARD_SEQ_LEN} AS n_seqs,
       md5(string_agg(id::VARCHAR, ',' ORDER BY doc_id, pos)) AS stream_md5
FROM ids GROUP BY source
"""


TOKEN_SHARD_CAP = 512


def _token_shards_capped_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CAPPED shard layout under the driver gate (VERDICT r7 item 4):
    max_tokens_per_shard=512 splits every source into ~3 `shard_<src>__<i>`
    pieces at sf0.01 (per-source streams are ~1.1-1.6k tokens), exercising
    the keyed_prefix_sum assignment, the multi-file atomic writes, and the
    per-file readback end-to-end.

    r9 PER-SHARD shape (VERDICT r8 item 2 — the r8 per-source rollup went
    driver hash-red while its uncapped twin stayed green, which isolates
    the divergence to the split-dependent columns; a rollup gave no way to
    see WHERE): the hashed output is now one row per shard file —
    (source, shard_i, n_docs, n_tokens, n_seqs, shard_md5) — with n_docs
    from the writer manifest and the other columns decoded from the bytes
    on disk. The oracle replicates the split per shard with INTEGER-ONLY
    math (`(n + 63) // 64`, never `ceil(n / 64.0)` — DuckDB DECIMAL
    division is version-dependent; canary_decimal_literal probes that
    axis). Any future red localizes itself to single shards."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.sinks import read_token_shards_manifest, write_token_shards

    out_dir = os.path.join(work_dir(sf_dir), "token_shards_capped")
    import shutil

    shutil.rmtree(out_dir, ignore_errors=True)
    manifest = write_token_shards(
        spark, sf_dir, out_dir, seq_len=TOKEN_SHARD_SEQ_LEN,
        max_tokens_per_shard=TOKEN_SHARD_CAP,
    )
    ndocs = spark.createDataFrame(
        [(r["source"], r["shard_i"], r["n_docs"]) for r in manifest],
        "source string, shard_i int, n_docs bigint",
    )
    back = read_token_shards_manifest(
        spark, out_dir, seq_len=TOKEN_SHARD_SEQ_LEN, per_shard=True
    )
    return back.join(F.broadcast(ndocs), ["source", "shard_i"]).select(
        "source", "shard_i", "n_docs", "n_tokens", "n_seqs", "shard_md5"
    )


def _token_shards_capped_oracle() -> str:
    from duckdb_ml_spark.operators.bpe import token_id_lexicon
    from duckdb_ml_spark.operators.textnorm import tokens_sql

    lex = ", ".join(f"('{w}', {i})" for w, i in sorted(token_id_lexicon().items()))
    return f"""
WITH lex(word, id) AS (VALUES {lex}),
toks AS (SELECT doc_id, source, {tokens_sql("text")} AS ws FROM documents),
u AS (SELECT doc_id, source, unnest(ws) AS word,
             generate_subscripts(ws, 1) AS pos
      FROM toks),
ids AS (SELECT u.doc_id, u.source, u.pos, lex.id
        FROM u JOIN lex ON u.word = lex.word),
dt AS (SELECT doc_id, source, count(*) AS nt FROM ids GROUP BY doc_id, source),
ps AS (SELECT doc_id, nt,
              coalesce(sum(nt) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
       FROM dt),
asn AS (SELECT doc_id, (strt // {TOKEN_SHARD_CAP})::INT AS shard_i FROM ps)
SELECT i.source, a.shard_i,
       count(DISTINCT i.doc_id) AS n_docs,
       count(*) AS n_tokens,
       (count(*) + {TOKEN_SHARD_SEQ_LEN - 1}) // {TOKEN_SHARD_SEQ_LEN} AS n_seqs,
       md5(string_agg(i.id::VARCHAR, ',' ORDER BY i.doc_id, i.pos)) AS shard_md5
FROM ids i JOIN asn a ON i.doc_id = a.doc_id
GROUP BY i.source, a.shard_i
"""


def _merge_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-RESTRICTED MERGE INTO (sinks.merge_upsert_partitioned,
    VERDICT r4 item 3) over a target hive-partitioned by part = s_suppkey % 8:
    UPDATE balances (+1000) for partitions {1, 4}, INSERT NEW_ rows for
    partitions {4, 6} (key+100000 ≡ key mod 8, so new rows stay in their
    partition) — only partitions {1, 4, 6} are read or rewritten; the other
    five directories are never opened (byte-identical, pytest-asserted in
    tests/test_relational.py). The target is rebuilt from the base table
    each call, so the readback is a pure function of `supplier` and the
    oracle reproduces it as a three-way UNION."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.sinks import merge_upsert_partitioned

    base = load(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal",
        (F.col("s_suppkey") % 8).cast("int").alias("part"),
    )
    import shutil

    # The merge mutates its target, so every call needs a fresh copy of the
    # base table — but the SPARK REWRITE of the base is setup, not the
    # operator (VERDICT r5: the rebuild dominated the timed row). Write the
    # pristine base once; per call, clone it with HARDLINKS (parquet files
    # are immutable here — the merge only renames whole partition dirs into
    # place, never appends) — metadata-only, ~ms.
    pristine = derived_dir(
        sf_dir, ["supplier"], "supplier_merge_base",
        lambda d: base.write.partitionBy("part").parquet(d),
    )
    target = os.path.join(work_dir(sf_dir), "supplier_merge_part")
    shutil.rmtree(target, ignore_errors=True)
    shutil.copytree(pristine, target, copy_function=os.link)
    upd_exist = base.where(F.col("part").isin(1, 4)).withColumn(
        "s_acctbal", F.col("s_acctbal") + 1000
    )
    upd_new = base.where(F.col("part").isin(4, 6)).select(
        (F.col("s_suppkey") + 100000).alias("s_suppkey"),
        F.concat(F.lit("NEW_"), F.col("s_name")).alias("s_name"),
        F.lit(0.0).alias("s_acctbal"),
        "part",
    )
    merge_upsert_partitioned(
        spark, target, upd_exist.unionByName(upd_new), ["s_suppkey"], "part"
    )
    back = spark.read.parquet(target)
    # hive partition-dir values read back as int32 regardless of write type
    return back.select(
        "s_suppkey", "s_name", "s_acctbal", F.col("part").cast("int").alias("part")
    )


_MERGE_UPSERT_ORACLE = """
SELECT s_suppkey, s_name, s_acctbal + 1000 AS s_acctbal, (s_suppkey % 8)::INT AS part
FROM supplier WHERE s_suppkey % 8 IN (1, 4)
UNION ALL
SELECT s_suppkey, s_name, s_acctbal, (s_suppkey % 8)::INT AS part
FROM supplier WHERE s_suppkey % 8 NOT IN (1, 4)
UNION ALL
SELECT s_suppkey + 100000 AS s_suppkey, 'NEW_' || s_name AS s_name,
       0.0 AS s_acctbal, (s_suppkey % 8)::INT AS part
FROM supplier WHERE s_suppkey % 8 IN (4, 6)
"""


def _schema_evolution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read: two parquet snapshots of the same table written
    with DIFFERENT schemas (v2 adds o_orderstatus), read together with
    mergeSchema=true — the reader widens to the union schema and fills
    missing columns with NULL. This is how a 100 TB corpus actually ages:
    early shards lack columns later pipelines added, and every consumer must
    read across the boundary without rewriting history. The rollup groups by
    the evolved column, so v1 rows surface as the NULL group."""
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders")

    def snapshots(d):
        orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(os.path.join(d, "v1"))
        orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderstatus"
        ).write.parquet(os.path.join(d, "v2"))

    base = derived_dir(sf_dir, ["orders"], "orders_evolving", snapshots)
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v1"), os.path.join(base, "v2")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


_SCHEMA_EVOLUTION_ORACLE = """
SELECT o_orderstatus, count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_price
FROM (
    SELECT o_totalprice, NULL AS o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 2 = 1
)
GROUP BY o_orderstatus
"""


_N_BUCKETS = 8


def bucketed_table(
    spark: SparkSession,
    sf_dir: str,
    df: DataFrame,
    key: str,
    name: str,
    n_buckets: int,
    sources: list,
    params: str = "",
) -> str:
    """Persist `df` as a bucketed+sorted parquet layout on `key` and return
    the session table name registered over it.

    Bucketing pre-shuffles the data ONCE at write time: every future join or
    aggregation on `key` reads co-located, pre-sorted buckets and plans with NO
    Exchange — the amortize-the-shuffle answer for tables joined repeatedly at
    100 TB (Spark's equivalent of a clustered index / hive bucketing).

    The layout is a `derived_dir` of EVERY source table the derivation reads
    (`sources`) plus `params` (derivation constants — filters, divisors) and
    the bucket count, and the table name carries that directory's
    fingerprint: a name maps to exactly one layout, so a registration can
    never point at a stale layout or mis-describe its bucket hash. The
    in-memory catalog dies with the session but the layout does not: a new
    session re-registers over it (CREATE TABLE … CLUSTERED BY … LOCATION)
    instead of re-paying the bucketed shuffle-write."""
    written = []

    def write(out):
        # repartition on the bucket key FIRST: bucketBy alone writes
        # (input-tasks × buckets) files, and a multi-file bucket loses its
        # sort guarantee, so every downstream SortMergeJoin re-sorts the whole
        # bucket and the scan opens tasks× more files. End-to-end at 2048×
        # the bucketed path reads 37.9 s vs 195.6 s for the salted-shuffle
        # fallback (bench/SKEWJOIN_x2048_r12.json). bucketBy needs a table:
        # write through a staging name, then unregister it.
        staged = f"{name}_staging"
        (
            df.repartition(n_buckets, key)
            .write.format("parquet")
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .option("path", out)
            .saveAsTable(staged)
        )
        spark.sql(f"DROP TABLE {staged}")
        written.append(out)

    out = derived_dir(sf_dir, sources, name, write, params=f"nb{n_buckets};{params}")
    tname = os.path.basename(out).replace("-", "_")
    if written or not spark.catalog.tableExists(tname):
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in spark.read.parquet(out).schema.fields
        )
        spark.sql(
            f"CREATE TABLE {tname} ({ddl}) USING PARQUET "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
            f"LOCATION '{out}'"
        )
    return tname


def bucketed_orders_lineitem(spark: SparkSession, sf_dir: str):
    """(orders_q1, lineitem_h1) as bucketed tables on the join key."""
    from pyspark.sql import functions as F

    orders = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    to = bucketed_table(
        spark, sf_dir, orders, "o_orderkey", "bkt_orders", _N_BUCKETS,
        ["orders"], params="o1997Q1",
    )
    tl = bucketed_table(
        spark, sf_dir, li, "l_orderkey", "bkt_lineitem", _N_BUCKETS,
        ["lineitem"], params="l1997H1",
    )
    return spark.table(to), spark.table(tl)


def _bucketed_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two bucketed tables on their bucket key → aggregate. The join
    itself is exchange-free (bucket-aligned SortMergeJoin; asserted in
    tests/test_relational.py); only the 5-group aggregate shuffles."""
    from pyspark.sql import functions as F

    o, l = bucketed_orders_lineitem(spark, sf_dir)
    return (
        o.join(l, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


_BUCKETED_JOIN_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'
  AND l_shipdate  >= TIMESTAMP '1997-01-01' AND l_shipdate  < TIMESTAMP '1997-07-01'
GROUP BY o_orderpriority
"""


QUERIES: dict[str, QuerySpec] = {
    "source_bucketed_join": QuerySpec(
        "source_bucketed_join", _bucketed_join_q, _BUCKETED_JOIN_ORACLE,
        doc="Bucketed-table write → exchange-free join on the bucket key (amortized shuffle).",
        tags=("source", "bucketing", "join"),
    ),
    "source_parquet_roundtrip": QuerySpec(
        "source_parquet_roundtrip", _parquet_roundtrip_q, "SELECT * FROM region",
        doc="Parquet export → native re-scan reproduces the table exactly (type-preserving sink).",
        tags=("source", "parquet"),
    ),
    "source_csv_roundtrip": QuerySpec(
        "source_csv_roundtrip", _csv_roundtrip_q, "SELECT * FROM supplier",
        doc="CSV export → header+inference scan reproduces the table exactly (§2.3 #5).",
        tags=("source", "csv"),
    ),
    "source_text_roundtrip": QuerySpec(
        "source_text_roundtrip", _text_roundtrip_q, "SELECT text FROM documents",
        doc="Line-delimited text export → spark.read.text scan reproduces the "
        "corpus exactly (the one-doc-per-line pretraining format).",
        tags=("source", "text"),
    ),
    "source_jsonl_roundtrip": QuerySpec(
        "source_jsonl_roundtrip", _jsonl_roundtrip_q, "SELECT * FROM nation",
        doc="JSONL export → inferred-schema scan reproduces the table exactly.",
        tags=("source", "json"),
    ),
    "source_orc_roundtrip": QuerySpec(
        "source_orc_roundtrip", _orc_roundtrip_q, "SELECT * FROM customer",
        doc="ORC export → native re-scan reproduces the table exactly (second columnar format).",
        tags=("source", "orc"),
    ),
    "source_xml_roundtrip": QuerySpec(
        "source_xml_roundtrip", _xml_roundtrip_q, "SELECT * FROM nation",
        doc="XML export → schema-inferred re-scan reproduces the table exactly "
        "(Spark 4 built-in xml source).",
        tags=("source", "xml"),
    ),
    "source_schema_evolution": QuerySpec(
        "source_schema_evolution", _schema_evolution_q, _SCHEMA_EVOLUTION_ORACLE,
        doc="mergeSchema read across snapshots with different schemas (added "
        "column surfaces as NULL for old shards) + rollup by the evolved column.",
        tags=("source", "parquet", "schema"),
    ),
    "sink_token_shards": QuerySpec(
        "sink_token_shards", _token_shards_q, _token_shards_oracle(),
        doc="Binary tokenized training shards (.bin uint16 + .idx offsets, "
        "one task per source) written then DECODED BACK and hash-paired "
        "against a first-principles oracle stream — the dataloader-ready "
        "emission endpoint of the pipeline.",
        tags=("sink", "tokenizer", "pipeline"),
    ),
    "sink_token_shards_capped": QuerySpec(
        "sink_token_shards_capped", _token_shards_capped_q,
        _token_shards_capped_oracle(),
        doc="Size-capped binary shard emission: skewed sources split into "
        "(source, shard_i) pieces via a distributed prefix sum "
        "(max_tokens_per_shard), written atomically and reassembled in "
        "shard order by the readback — n_seqs (per-shard padding) and the "
        "reassembled stream md5 both hash-paired against a SQL replica of "
        "the split.",
        tags=("sink", "tokenizer", "pipeline", "sharding"),
    ),
    "sink_compaction": QuerySpec(
        "sink_compaction", _compaction_q, _COMPACTION_ORACLE,
        doc="Small-file compaction (64 shards -> size-targeted files) with a "
        "content-preservation rollup checked against the original table.",
        tags=("sink", "compaction", "parquet"),
    ),
    "sink_merge_upsert": QuerySpec(
        "sink_merge_upsert", _merge_upsert_q, _MERGE_UPSERT_ORACLE,
        doc="Partition-restricted MERGE INTO over hive-partitioned parquet: "
        "read and rewrite pruned to partitions containing update keys (3 of "
        "8); untouched partition dirs byte-identical. The 100 TB upsert form.",
        tags=("sink", "merge", "parquet", "partitioning"),
    ),
    "source_partitioned_pruned": QuerySpec(
        "source_partitioned_pruned", _partitioned_parquet_q, _PARTITIONED_ORACLE,
        doc="partitionBy(source) write → partition-pruned scan + rollup (directory pruning at plan time).",
        tags=("source", "parquet", "partitioning"),
    ),
}


def parquet_num_rows(path: str) -> int:
    """Exact row count from parquet FOOTERS only (no data read) — the cheap
    input for row-aware layout decisions (bucket counts). Bytes-based sizing
    misjudges by the compression ratio: the 2048× derived lineitem packs
    ~21M rows into 128 MB (6 B/row) where ordinary data holds ~4M, so a
    bytes formula would have produced 22M-row single-task bucket merges."""
    from pathlib import Path

    import pyarrow.parquet as pq

    p = Path(path)
    files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
    return sum(pq.ParquetFile(str(f)).metadata.num_rows for f in files)
