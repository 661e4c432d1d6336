"""Streaming operators over the `events` table.

Each operator is a plain DataFrame→DataFrame transformation, so the SAME
function serves batch (oracle-checkable via queries.py) and streaming
(readStream + availableNow in tests) — Spark's unified batch/stream semantics
are the whole design: correctness is proven against the DuckDB oracle in batch
mode, and the streaming tests prove the identical plan runs incrementally with
watermarks and emits the same rows.

Scale notes: windowed aggregations shuffle on (window, key) — at 100 TB/day the
state store is bounded by the watermark horizon, not the stream length; session
windows additionally merge per key, so skewed users are the thing to watch
(cap with a max-session-length guard upstream if needed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_ml_spark.memo import memo

EVENTS_SCHEMA_NS = "event_id bigint, ts bigint, user_id bigint, event_type string, value double, props string"
EVENTS_SCHEMA_US = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet, normalizing ts to a µs timestamp.

    The driver's testdata has stored ts as TIMESTAMP(NANOS) in some rounds and
    TIMESTAMP(MICROS) in others; peek at the file footer with a batch read and
    declare the matching stream schema (a stream source needs an explicit
    schema up front — it can't infer per-file).

    Session prep goes through tables._prepare: batch/stream ts parity depends
    on BOTH nanosAsLong and the UTC session timezone (the NTZ→LTZ cast in
    tables.load vs the direct LTZ schema here), so the stream path must set
    the same pair, not just one of them."""
    from pyspark.sql.types import LongType

    from duckdb_ml_spark.tables import _prepare

    _prepare(spark)
    is_ns = memo(spark, (sf_dir, "events_ts_is_ns"), lambda: isinstance(
        spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType, LongType))
    # file stream source requires a directory; glob-filter to the events file
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA_NS if is_ns else EVENTS_SCHEMA_US)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if is_ns:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw  # declared schema already types ts as timestamp


def tumbling_counts(ev: DataFrame, width: str = "1 hour", watermark: str | None = None) -> DataFrame:
    """Per-(hour, event_type) event counts + value aggregates (tumbling window).

    Pass watermark (e.g. "2 hours") on streaming input to bound state; batch
    input ignores it. Aggregates are rounded to absorb ±ulp summation-order
    noise between engines (never round per-row values). avg is DERIVED from
    the rounded sum (round(round(sum,6)/n, 6)) instead of rounding avg()
    directly: rounding collapses both engines' sums to the identical double
    first, so the final round sees the same input — a directly-rounded
    avg() hit a round-half boundary at sf0.1 (43.4728125: Spark …12 vs
    DuckDB …13 from last-ulp summation differences; r13 gate finding)."""
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    sum_r = F.round(F.sum("value"), 6)
    return (
        ev.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            sum_r.alias("sum_value"),
            F.round(sum_r / F.count(F.lit(1)), 6).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value", "avg_value")
    )


def sliding_counts(
    ev: DataFrame, width: str = "2 hours", slide: str = "1 hour", watermark: str | None = None
) -> DataFrame:
    """Sliding-window counts: each event lands in width/slide overlapping windows."""
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_windows(ev: DataFrame, gap: str = "30 minutes", watermark: str | None = None) -> DataFrame:
    """Per-user session windows (gap-based). A session breaks when the next
    event is ≥ gap after the previous one; session_start_us = first event ts.

    r9: time outputs are epoch-µs BIGINTs (session_start_us, last_ts_us) —
    the environment-proof contract every ts-emitting query adopted after
    the r8 driver reds (see operators/analytics.sessionize and
    plans/canary.py); the session assignment itself still runs on the
    TIMESTAMP column (session_window requires it)."""
    if watermark is not None:
        ev = ev.withWatermark("ts", watermark)
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.unix_micros(F.max("ts")).alias("last_ts_us"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "last_ts_us",
            "sum_value",
        )
    )


def user_state(ev: DataFrame) -> DataFrame:
    """Batch-equivalent of the stateful per-user accumulator: final state per
    user (event count, max value, last event time as epoch-µs BIGINT — the
    exact schema the stateful twin's state rows carry). The streaming twin
    keeps this as per-key state via applyInPandasWithState
    (user_state_stream)."""
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("value").alias("max_value"),
        F.unix_micros(F.max("ts")).alias("last_ts_us"),
    )


def dedup_events(ev: DataFrame, watermark: str | None = None) -> DataFrame:
    """Exactly-once event stream: drop duplicate event_ids.

    Batch: plain dropDuplicates. Streaming: dropDuplicatesWithinWatermark —
    state holds only ids inside the watermark horizon (bounded memory at
    100 TB/day; an unbounded streaming dropDuplicates would grow forever)."""
    if watermark is not None and ev.isStreaming:
        return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])
    return ev.dropDuplicates(["event_id"])


_INTERVAL_UNITS_S = {
    "SECOND": 1,
    "SECONDS": 1,
    "MINUTE": 60,
    "MINUTES": 60,
    "HOUR": 3600,
    "HOURS": 3600,
    "DAY": 86400,
    "DAYS": 86400,
}


def _interval_seconds(interval: str) -> int:
    qty, unit = interval.strip().split()
    return int(qty) * _INTERVAL_UNITS_S[unit.upper()]


def interval_join_pairs(
    left: DataFrame, right: DataFrame, interval: str = "10 MINUTES", watermark: str = "1 hour"
) -> DataFrame:
    """Per-user (id_a, id_b) event pairs with ts_b in [ts_a, ts_a + interval).

    One builder for BOTH engines' modes: on streaming inputs the watermarks
    bound each side's join state to the horizon (Spark requires them for
    stream-stream joins); on batch inputs withWatermark is a no-op and the
    same plan runs as a plain interval self-join. tests/test_streaming.py
    asserts the two executions produce identical rows.

    The join key is (user_id, time-bucket), not user_id alone: the time axis
    is bucketed at the interval width and the right side claims its own and
    previous bucket, so a qualifying pair collides in EXACTLY one bucket (the
    range spans < one width — no duplicates, no distinct pass) and the exact
    range predicate filters the collision. Without the bucket key, the join
    degenerates to a per-user cross product filtered after the fact —
    quadratic in events-per-user, the thing that dies on a power user at
    100 TB. Bucketing composes with streaming: the exploded right rows keep
    their watermark column, and per-key state is bounded by the horizon as
    before (each right event is stored at most twice)."""
    w_us = _interval_seconds(interval) * 1_000_000
    a = (
        left.select(F.col("event_id").alias("id_a"), F.col("ts").alias("ts_a"), "user_id")
        .withWatermark("ts_a", watermark)
        .withColumn("bk", F.floor(F.unix_micros("ts_a") / w_us))
    )
    b = (
        right.select(
            F.col("event_id").alias("id_b"),
            F.col("ts").alias("ts_b"),
            F.col("user_id").alias("user_b"),
        )
        .withWatermark("ts_b", watermark)
        .withColumn(
            "bk",
            F.explode(
                F.array(
                    F.floor(F.unix_micros("ts_b") / w_us) - 1,
                    F.floor(F.unix_micros("ts_b") / w_us),
                )
            ),
        )
    )
    return a.join(
        b,
        (F.col("user_id") == F.col("user_b"))
        & (a["bk"] == b["bk"])
        & (F.col("id_a") != F.col("id_b"))
        & (F.col("ts_b") >= F.col("ts_a"))
        & (F.col("ts_b") < F.col("ts_a") + F.expr(f"INTERVAL {interval}")),
    ).select("id_a", "id_b")


def hourly_topk_types(ev: DataFrame, k: int = 3, watermark: str | None = None) -> DataFrame:
    """Top-k event types per hour by count (ties → type asc) — the windowed
    leaderboard every event pipeline dashboards.

    Batch: tumbling counts + one rank window (both shuffles on the window
    key). Streaming: the rank stage runs inside a foreachBatch sink over the
    watermark-finalized tumbling aggregate (append-mode streaming cannot rank
    across an unfinished window by definition) — tests/test_streaming.py
    proves sink output == this batch form."""
    counts = tumbling_counts(ev, watermark=watermark).select(
        "window_start", "event_type", "n_events"
    )
    return rank_topk_types(counts, k=k)


def countmin_user_counters(ev: DataFrame) -> DataFrame:
    """Count-min counters (operators/text.countmin_counters) over the user-id
    stream: per-user event frequencies sketched into d×1024 additive
    counters. THE streaming-sketch story: the aggregation state is bounded
    at d·width rows NO MATTER how many distinct users the stream ever sees
    (an exact per-user count grows state linearly and is eventually
    evicted/OOM); counters are plain sums, so the identical plan runs
    incrementally in complete mode and the final table equals the batch
    form (tests/test_streaming.py). No watermark required — the sketch is
    windowless and additive."""
    from duckdb_ml_spark.operators.text import countmin_counters

    return countmin_counters(ev.select(F.col("user_id").cast("string").alias("w")))


def rank_topk_types(counts: DataFrame, k: int = 3) -> DataFrame:
    """Rank stage shared by the batch plan and the foreachBatch sink."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("window_start", "event_type", "n_events", "rk")
    )


STATE_SCHEMA = "n bigint, max_value double, last_ts_us bigint"
OUT_SCHEMA = "user_id bigint, n_events bigint, max_value double, last_ts_us bigint"


def user_state_stream(ev: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful operator: per-user running (count, max, last_ts) kept in
    the state store across micro-batches via applyInPandasWithState.

    Emits the updated state for every user seen in each micro-batch; the final
    emission per user equals user_state() of the whole input — asserted in
    tests. State is O(users), not O(events): the 100 TB-safe shape."""
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n = 0
        mx = None
        last = None
        if state.exists:
            n, mx, last = state.get
        for pdf in pdfs:
            n += len(pdf)
            bmx = pdf["value"].max()
            mx = bmx if mx is None else max(mx, float(bmx))
            blast = pdf["ts"].max()
            blast_us = int(blast.value // 1000)  # pandas ns → µs
            last = blast_us if last is None else max(last, blast_us)
        state.update((n, float(mx), int(last)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx], "last_ts_us": [last]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update, OUT_SCHEMA, STATE_SCHEMA, "Update", timeout
    )


# --- streaming SCD2 / CDC interval compaction ---------------------------------

SCD2_STATE_SCHEMA = "cur string, vf_us bigint, ver bigint, n bigint"
SCD2_OUT_SCHEMA = (
    "user_id bigint, event_type string, version_n bigint, valid_from_us bigint,"
    " valid_to_us bigint, n_events bigint, is_current boolean"
)


def scd2_compact(ev: DataFrame) -> DataFrame:
    """Batch-equivalent of the streaming SCD2 compaction: the analytics
    interval-collapse plan with timestamps as exact integer microseconds (the
    schema the stateful stream twin emits — state rows keep µs ints, not
    timestamps, so the two forms compare bit-exactly in tests)."""
    from duckdb_ml_spark.operators.analytics import scd2_intervals

    # scd2_intervals already emits µs-integer validity bounds (r9 contract)
    return scd2_intervals(ev).select(
        "user_id",
        "event_type",
        "version_n",
        "valid_from_us",
        "valid_to_us",
        "n_events",
        "is_current",
    )


def scd2_fold(cur, vf, ver, n, et, us):
    """One micro-batch step of the SCD2 state machine: fold the sorted batch
    (event types `et`, µs timestamps `us`) into the carried per-user state
    (cur, vf, ver, n), returning (new_state, closed_intervals). Module-level
    so cross-batch stitching is unit-testable without a streaming harness —
    the property pinned in tests: folding any split of a stream batch-by-
    batch yields the same closed+open intervals as folding it whole."""
    import numpy as np

    closed = []
    m = len(et)
    if m == 0:
        return (cur, vf, ver, n), closed
    brk = np.empty(m, dtype=bool)
    brk[0] = cur is None or et[0] != cur
    brk[1:] = et[1:] != et[:-1]
    starts = np.flatnonzero(brk)
    if len(starts) == 0:  # whole batch continues the carried run
        return (cur, vf, ver, n + m), closed
    # rows before the first break extend the CARRIED run — absorb them
    # before anything closes (starts[0] > 0 implies et[0] matched cur)
    n += int(starts[0])
    for i, s0 in enumerate(starts):
        run_end = starts[i + 1] if i + 1 < len(starts) else m
        if cur is not None:
            closed.append((cur, ver, vf, int(us[s0]), n))
        cur, vf, ver, n = str(et[s0]), int(us[s0]), ver + 1, int(run_end - s0)
    return (cur, int(vf), int(ver), int(n)), closed


def scd2_stream(ev: DataFrame, timeout: str = "NoTimeout") -> DataFrame:
    """Custom stateful CDC compactor: per-user SCD2 intervals maintained in
    the state store via applyInPandasWithState. Each micro-batch emits every
    interval CLOSED by that batch (immutable thereafter) plus the updated
    open-interval snapshot; the LAST emission per (user, version) equals
    scd2_compact() of the whole input — asserted in tests.

    State is O(users) — (current type, valid_from, version, count), never
    event history — the 100 TB/day-safe shape; within a batch the run
    detection is vectorized numpy over the (ts, event_id)-sorted rows, no
    per-event Python.

    ASSUMES in-order delivery per user (the availableNow test shape). Out-of-
    order streams need a watermark + buffer-and-sort stage ahead of this
    operator; the compaction state machine itself is order-dependent by
    definition (it is the same fold the batch window computes)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs))
        if len(rows) == 0:
            return
        rows = rows.sort_values(["ts", "event_id"])
        et = rows["event_type"].to_numpy()
        us = rows["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        if state.exists:
            cur, vf, ver, n = state.get
        else:
            cur, vf, ver, n = None, 0, 0, 0
        (cur, vf, ver, n), closed = scd2_fold(cur, vf, ver, n, et, us)
        state.update((cur, int(vf), int(ver), int(n)))
        out = [
            (key[0], c_cur, c_ver, c_vf, c_to, c_n, False)
            for (c_cur, c_ver, c_vf, c_to, c_n) in closed
        ]
        out.append((key[0], cur, ver, vf, None, n, True))
        yield pd.DataFrame(
            out,
            columns=[
                "user_id", "event_type", "version_n", "valid_from_us",
                "valid_to_us", "n_events", "is_current",
            ],
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update, SCD2_OUT_SCHEMA, SCD2_STATE_SCHEMA, "Update", timeout
    )
