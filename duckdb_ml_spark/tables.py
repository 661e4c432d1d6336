"""Test-table access + temp-view registration.

Tables are the driver-generated TPC-H-ish parquet files (TESTDATA.md):
region nation customer supplier part orders lineitem events documents embeddings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from duckdb_ml_spark.memo import memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _prepare(spark: SparkSession) -> None:
    """Session conf every table read needs, safe on a session the engine did not create.

    - UTC session timezone: window/date_trunc/session_window semantics must
      match the naive-UTC testdata and the DuckDB oracle.
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS) which the reader
      otherwise rejects.
    - ensure_shipped: package importable on executor workers whatever the cwd.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Plain parquet scan → Catalyst gets full pushdown/pruning.

    Memoized per (session, sf_dir, name): a parquet `read` costs driver RPCs
    + a footer/schema read every call, and the suite calls load() ~60 times
    over 10 tables. The memo holds the lazy DataFrame (the analyzed plan),
    NOT materialized data — every query still scans parquet on the
    executors, with full pushdown/pruning, exactly as an uncached read would.

    The events table's TIMESTAMP(NANOS) is read as long and converted to a
    microsecond timestamp with integer division (matches DuckDB's ns→µs
    truncation; a double-typed division would lose precision above 2^53 ns).
    """
    return memo(spark, (sf_dir, "table", name), lambda: _read(spark, sf_dir, name))


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prepare(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name != "events":
        return df
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    # The test data has stored ts as TIMESTAMP(NANOS) (read as long via
    # nanosAsLong) in some versions and TIMESTAMP(MICROS) in others;
    # normalize either encoding to a µs TimestampType column.
    if not isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    # Guard the ns→µs div-1000: a LongType ts must actually be
    # TIMESTAMP(NANOS) read via nanosAsLong. If a future round ships
    # ts as plain INT64 µs, dividing would silently misscale 1000×.
    import pyarrow.parquet as pq

    field = pq.read_schema(f"{sf_dir}/{name}.parquet").field("ts")
    if not (str(field.type).startswith("timestamp[ns")):
        raise ValueError(
            f"events.ts read as int64 but parquet logical type is "
            f"{field.type}, not TIMESTAMP(NANOS) — refusing ns→µs conversion"
        )
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES) -> None:
    """Register every test table as a temp view so spark.sql queries can use them."""
    for name in names:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def table_size_bytes(sf_dir: str, table: str) -> int:
    """On-disk bytes of a table that may be a single parquet FILE (driver
    testdata) or a DIRECTORY of parts (Spark-written derived tables).
    os.path.getsize on a directory returns the dirent size (~4 KB), which
    silently disabled every >=1 GB layout gate on directory tables — the
    2048x skew join fell back to the full shuffle path this way (r12)."""
    import os

    p = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(p):
            return sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(p)
                for f in fs
            )
        return os.path.getsize(p)
    except OSError:
        return 0
