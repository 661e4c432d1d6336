"""Scale utilities: skew salting and co-located (bucketed) join helpers.

These encode the two standard answers to "this shuffle dies at 100 TB":

- **Skewed aggregation** → two-phase salted aggregate: partial-aggregate on
  (key, salt) so one hot key spreads over N reducers, then finish on key.
  Results are exactly the aggregate of the unsalted plan for decomposable
  aggregates (sum/count/min/max) — equivalence pytest-checked.

- **Skewed/broadcast-impossible join** → salted replicate join: the big side
  gets a deterministic salt from row identity, the small side is replicated
  N_SALT times; join key becomes (key, salt) so a hot key's rows land on N
  reducers instead of one. Row-for-row identical to the plain join.

AQE's skew-join splitting (on in session.py) handles moderate skew
automatically; these helpers are for the pathological keys AQE can't split
(single-key hash aggregation, non-sort-merge paths) and for pinning the plan
shape explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from duckdb_ml_spark.memo import derived_dir, memo


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple],
    n_salts: int = 16,
    salt_from: str | Column | None = None,
) -> DataFrame:
    """Two-phase aggregation with a salt on the partial phase.

    aggs: output_name -> (phase1_agg_fn, phase2_agg_fn, input_col), where the
    pair must compose to the true aggregate (sum/sum, count/sum, min/min,
    max/max). Example:

        salted_agg(li, ["l_returnflag"], {
            "n":       (F.count, F.sum, "l_quantity"),
            "sum_qty": (F.sum,   F.sum, "l_quantity"),
            "max_qty": (F.max,   F.max, "l_quantity"),
        })
    """
    salt = (
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
        if salt_from is None
        else F.pmod(F.xxhash64(salt_from if isinstance(salt_from, Column) else F.col(salt_from)), F.lit(n_salts))
    )
    phase1 = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(
        *[f1(c).alias(f"__p_{name}") for name, (f1, _f2, c) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[f2(f"__p_{name}").alias(name) for name, (_f1, f2, _c) in aggs.items()]
    )


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the large side deterministically, explode
    the small side across all salts, join on (key, salt).

    Use when the small side is too big to broadcast and the key distribution
    has hot keys a sort-merge join would serialize onto single tasks."""
    lg = large.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    )
    sm = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(n_salts)]))
    )
    out = lg.join(sm, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def key_skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Per-key row counts + share of total — the diagnostic you run BEFORE
    choosing a join strategy at scale. Deterministic under count ties (key
    ascending tiebreak), so the returned SET is reproducible run-to-run."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(key, "n", (F.col("n") / F.col("t")).alias("share"))
        .orderBy(F.desc("n"), F.col(key))
        .limit(top)
    )


# --- driver-checked query: the salted plan must equal the plain aggregate ----


Z_BITS = 12  # 4096 cells per dimension → 24-bit z values


def zorder_value(col_a: Column, col_b: Column, rng_a: tuple, rng_b: tuple,
                 bits: int = Z_BITS) -> Column:
    """Morton (Z-order) key over two columns — the multi-dimensional data
    CLUSTERING technique (Delta/Iceberg `OPTIMIZE ZORDER BY` on plain
    parquet): each column is min-max normalized into 2^bits cells from its
    (cached) range literals, then the cell ids' bits are INTERLEAVED, so
    rows close in BOTH dimensions are close on the curve. Sorting the write
    by this key makes every file/row-group a tight min/max BOX in both
    columns at once — a predicate on EITHER (or both) prunes row groups at
    the scan, where a single-column sort only serves its own column.

    Pure codegen arithmetic (2·bits shift/and/or terms — no UDF, no
    shuffle-side work beyond the range partitioner's sampling)."""
    def norm(c, lo, hi):
        span = float(hi - lo) if hi > lo else 1.0
        return F.least(
            F.lit((1 << bits) - 1),
            ((c.cast("double") - float(lo)) * ((1 << bits) - 1) / span).cast("bigint"),
        )

    a, b = norm(col_a, *rng_a), norm(col_b, *rng_b)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def zorder_write(df: DataFrame, col_a: str, col_b: str, out_dir: str,
                 n_files: int = 64, bits: int = Z_BITS) -> None:
    """Rewrite df as n_files parquet files laid out along the Z-curve of
    (col_a, col_b): range-partition by z (each file = one contiguous curve
    segment = one tight 2-D box), sort within files, drop the key. At 100 TB
    this is the periodic OPTIMIZE pass a lake runs so that multi-predicate
    scans become partial READS via row-group min/max stats."""
    mm = df.agg(
        F.min(col_a), F.max(col_a), F.min(col_b), F.max(col_b)
    ).head()
    z = zorder_value(
        F.col(col_a), F.col(col_b), (mm[0], mm[1]), (mm[2], mm[3]), bits=bits
    )
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


def rowgroup_overlap_fraction(path: str, col_a: str, box_a: tuple,
                              col_b: str, box_b: tuple) -> float:
    """Driver-side audit of layout quality: the fraction of row groups whose
    (min,max) statistics intersect the 2-D predicate box — exactly the set a
    stats-pruning reader must fetch. The z-order pytest asserts this is a
    small fraction for the z layout and large for a single-column sort."""
    import glob as _glob
    import os

    import pyarrow.parquet as pq

    hit = tot = 0
    for f in _glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            sa = g.column(names[col_a]).statistics
            sb = g.column(names[col_b]).statistics
            tot += 1
            if (
                sa.min <= box_a[1] and sa.max >= box_a[0]
                and sb.min <= box_b[1] and sb.max >= box_b[0]
            ):
                hit += 1
    return hit / tot if tot else 1.0


# The 2-D box the z-order query scans (middle ~10% of each key dimension at
# any sf — ranges derive from the data, fractions are the constants)
_Z_FRAC = (0.45, 0.55)


def _zorder_box(spark, sf_dir: str):
    from duckdb_ml_spark.tables import load

    li = load(spark, sf_dir, "lineitem")
    mm = li.agg(
        F.min("l_orderkey"), F.max("l_orderkey"),
        F.min("l_partkey"), F.max("l_partkey"),
    ).head()
    import math

    # floor, matching the oracle's floor(...)::BIGINT (Python int() would
    # also floor for positive keys, but be explicit)
    box = lambda lo, hi: (
        int(math.floor(lo + _Z_FRAC[0] * (hi - lo))),
        int(math.floor(lo + _Z_FRAC[1] * (hi - lo))),
    )
    return li, box(mm[0], mm[1]), box(mm[2], mm[3])


def _zorder_q(spark, sf_dir: str):
    """Z-ordered lineitem copy scanned with a TWO-dimensional box predicate
    (orderkey AND partkey ranges): the filters reach the parquet scan as
    PushedFilters and the clustered layout lets row-group min/max stats skip
    most file bytes. The honest contract (rowgroup_overlap_fraction pytest,
    measured at 32 files): the z layout prunes EVERY predicate shape
    (worst-case fraction 0.625; 2-D box 0.25) where a single-column sort is
    perfect on its own column but prunes NOTHING (1.0) on the other — the
    curve buys robustness across query shapes, not dominance on one box.
    The oracle runs the identical predicate on the ORIGINAL table — layout
    must never change results."""
    li, (a_lo, a_hi), (b_lo, b_hi) = _zorder_box(spark, sf_dir)
    out = derived_dir(
        sf_dir, ["lineitem"], "lineitem_zorder",
        lambda d: zorder_write(li, "l_orderkey", "l_partkey", d),
    )
    back = spark.read.parquet(out)
    sel = back.where(
        F.col("l_orderkey").between(a_lo, a_hi)
        & F.col("l_partkey").between(b_lo, b_hi)
    )
    return sel.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
    )


# the box bounds are data-derived, so the oracle recomputes them INSIDE the
# SQL from the same min/max + fractions — sf-agnostic by construction
_ZORDER_ORACLE = f"""
WITH mm AS (
    SELECT min(l_orderkey) AS alo, max(l_orderkey) AS ahi,
           min(l_partkey)  AS blo, max(l_partkey)  AS bhi
    FROM lineitem
),
box AS (
    SELECT floor(alo + {_Z_FRAC[0]} * (ahi - alo))::BIGINT AS a_lo,
           floor(alo + {_Z_FRAC[1]} * (ahi - alo))::BIGINT AS a_hi,
           floor(blo + {_Z_FRAC[0]} * (bhi - blo))::BIGINT AS b_lo,
           floor(blo + {_Z_FRAC[1]} * (bhi - blo))::BIGINT AS b_hi
    FROM mm
)
SELECT l_returnflag, count(*) AS n_rows,
       round(sum(l_extendedprice), 2) AS total_price
FROM lineitem, box
WHERE l_orderkey BETWEEN a_lo AND a_hi
  AND l_partkey  BETWEEN b_lo AND b_hi
GROUP BY l_returnflag
"""


def bloom_write(df: DataFrame, key_col: str, out_dir: str, n_files: int = 32,
                ndv: int | None = None) -> None:
    """Rewrite df as n_files parquet files with a PARQUET BLOOM FILTER on
    `key_col` — the point-lookup pruning layout for keys the table is NOT
    sorted or partitioned by (z-order serves range boxes via min/max stats;
    bloom filters serve EQUALITY probes where every row group spans the full
    key range and min/max prune nothing). Round-robin repartition models the
    realistic lake shape (each file spans ~the whole keyspace). At 100 TB
    this is the standard secondary-lookup answer on plain parquet: ~1 byte
    per distinct key per row group buys skipping every row group the probed
    key cannot be in — no index table, no sort, no rewrite on ingest order.

    Verified on this build (pyspark 4.1.2): the vectorized reader consumes
    the filters for IN/= pushdown — the scan's numOutputRows drops to the
    row groups whose filter MIGHT contain a probed key (pytest asserts the
    contract; neither pyarrow 17 nor DuckDB 1.0 exposes the filter offsets,
    so the reader-side metric IS the observable)."""
    w = (
        df.repartition(n_files)
        .write.mode("overwrite")
        .option(f"parquet.bloom.filter.enabled#{key_col}", "true")
    )
    if ndv is not None:
        w = w.option(f"parquet.bloom.filter.expected.ndv#{key_col}", str(ndv))
    w.parquet(out_dir)


def scan_output_rows(df: DataFrame) -> int:
    """Sum of numOutputRows over the executed plan's parquet scan nodes —
    rows surviving row-group/page pruning BEFORE the post-scan Filter (the
    audit metric for layout-pruning contracts). Executes the plan."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    saw_scan = False

    def walk(node):
        nonlocal total, saw_scan
        # AdaptiveSparkPlanExec is a LEAF in children() terms (ADVICE r11):
        # without unwrapping, an AQE-executed plan would silently return 0
        # and trivially satisfy any `scanned < fraction` assertion.
        if node.nodeName().startswith("AdaptiveSparkPlan"):
            walk(node.executedPlan())
            return
        if "QueryStage" in node.nodeName():  # AQE stage wrappers are leaves too
            walk(node.plan())
            return
        if "Scan" in node.nodeName():
            saw_scan = True
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        ch = node.children().iterator()
        while ch.hasNext():
            walk(ch.next())

    walk(plan)
    if not saw_scan:
        raise AssertionError(
            "scan_output_rows found no scan node — plan shape changed "
            f"(root: {plan.nodeName()}); a 0 here must fail loudly, not "
            "trivially pass a pruning assertion"
        )
    return total


# probe-key fractions for the bloom point-lookup query (the keys themselves
# are data-derived EXISTING o_orderkey values: global min, global max, and
# the smallest key in the upper half — exact aggregates both engines compute
# identically; TPC-H orderkeys are sparse, so "midpoint" alone might not
# exist)
def _bloom_keys(spark, sf_dir: str):
    from duckdb_ml_spark.tables import load

    orders = load(spark, sf_dir, "orders")
    mm = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).head()
    mid = (mm[0] + mm[1]) // 2
    k2 = orders.where(F.col("o_orderkey") >= mid).agg(F.min("o_orderkey")).head()[0]
    return orders, [mm[0], k2, mm[1]]


def _bloom_q(spark, sf_dir: str):
    """Point lookups on a bloom-filter parquet layout of orders: 3
    data-derived existing keys probed with IN over a layout where every file
    spans the whole keyspace (round-robin write — min/max stats prune
    NOTHING; only the bloom filters skip). Results must equal the same
    probe on the ORIGINAL table (oracle) — layout never changes results.
    The pruning contract lives in tests/test_scale.py (scan_output_rows
    under 40% of the table on a 16-file layout at sf0.01)."""
    import os as _os

    orders, keys = _bloom_keys(spark, sf_dir)
    # Size the blooms to the per-file key count (expected.ndv is per bloom,
    # i.e. per row group): unsized blooms measured a ~30% row-group
    # false-positive rate at 256× (bench/BLOOMCOLD_x256_r12.json, commit
    # 29e328a, probes the sizing), which triples the bytes a cold
    # point-lookup requests.
    from duckdb_ml_spark.sources.readers import parquet_num_rows

    # footer-only row count (r12 review: a full count() job ran on every
    # build of this _EXEC_AT_BUILD query, even with the layout cached)
    n_rows = parquet_num_rows(_os.path.join(sf_dir, "orders.parquet"))
    ndv = max(1024, n_rows // 32)
    cols = ("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
    out = derived_dir(
        sf_dir, ["orders"], "orders_bloom",
        lambda d: bloom_write(orders.select(*cols), "o_orderkey", d, ndv=ndv),
        params=f"ndv{ndv}",
    )
    back = spark.read.parquet(out)
    return (
        back.where(F.col("o_orderkey").isin(*[int(k) for k in keys]))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


_BLOOM_ORACLE = """
WITH mm AS (
    SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders
),
ks AS (
    SELECT lo AS k FROM mm
    UNION ALL
    SELECT min(o_orderkey) FROM orders, mm WHERE o_orderkey >= (lo + hi) // 2
    UNION ALL
    SELECT hi FROM mm
)
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderkey IN (SELECT k FROM ks)
ORDER BY o_orderkey
"""


def _salted_agg_q(spark, sf_dir: str):
    """Two-phase salted aggregate over events by event_type — value-hash
    checked against the PLAIN GROUP BY oracle, proving the skew-safe plan is
    a pure physical rewrite (sums rounded: float association differs)."""
    from duckdb_ml_spark.tables import load

    ev = load(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": (F.count, F.sum, "value"),
            "sum_value": (F.sum, F.sum, "value"),
            "max_value": (F.max, F.max, "value"),
        },
        salt_from="event_id",
    )
    return out.select(
        "event_type",
        "n_events",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"),
    )


_SALTED_AGG_ORACLE = """
SELECT event_type, count(value) AS n_events,
       round(sum(value), 6) AS sum_value, round(max(value), 6) AS max_value
FROM events GROUP BY event_type
"""

HOT_KEY_ROWS = 1_000_000  # a key is hot when it would serialize ≥1M fact
HOT_SAMPLE_FRACTION = 0.001  # rows onto one join task


def adaptive_salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
    hot_threshold: int = HOT_KEY_ROWS,
    sample_fraction: float = HOT_SAMPLE_FRACTION,
    cache_key=None,
) -> DataFrame:
    """Measure-then-salt skew join: a SAMPLED key histogram of the large side
    finds hot keys (count in sample > threshold·fraction/2 — a ≥½-threshold
    hot key appears ~500× in a 0.1% sample, so detection is near-certain and
    the collected key list is bounded by total/(threshold/2) by
    construction); only those keys take the salt-explode path, everything
    else joins plain. On uniform data this degenerates to the plain join
    plus one cheap sample-count job — salting is paid only where a task
    would otherwise serialize ≥ threshold rows.

    The first cut salted EVERY key: correct, but the blanket ×n_salts build
    replication measured 11.8 s at 64× (38 M ⋈ 77 M-exploded) vs ~2.5 s for
    this form — salting uniform keys is pure overhead, which is exactly why
    the diagnosis (dq_key_skew) precedes the strategy choice at scale.

    Output is plain-join-equal REGARDLESS of what the profile detects (both
    branches compute the same inner join), so the sampled profile affects
    cost only, never results.

    Scale note (r9, VERDICT r8 item 3/4 — measured): with NO hot keys this
    is the plain fact-fact shuffle join, and that constant does not
    optimize away — at 1024× (614 M ⋈ 154 M) it measures 59.5 s warm /
    144.9 s cold. The repo's answer for joins that REPEAT on a key is the
    LAYOUT, not salting: `sources.readers.bucketed_table` both sides once
    (87.7 s at 1024×) and every subsequent join is bucket-aligned and
    exchange-free — 33.1 s, 1.8× faster than the warm shuffle join, paying
    the write off within two joins (bench/BUCKETJOIN_x1024_r9.json;
    tools/bucketed_join_probe.py reproduces). Salting remains the tool for
    SKEWED keys; bucketing for repeated joins; they compose (bucket the
    uniform mass, salt the hot tail)."""
    def profile() -> list:
        cut = max(1, int(hot_threshold * sample_fraction / 2))
        return [
            r[0]
            for r in large.sample(fraction=sample_fraction, seed=42)
            .groupBy(on)
            .count()
            .where(F.col("count") > cut)
            .select(on)
            .collect()
        ]

    # hot-key lists are dataset properties of a table, memoized like the
    # signatures / corpus_shingles, so repeat builds skip the sample job.
    # sample_fraction is part of the key (ADVICE r8 low: omitting it let a
    # later call with a different detection sensitivity silently reuse the
    # stale hot-key list — output-equal, but not the mitigation asked for)
    hot = memo(
        large.sparkSession,
        (cache_key, "hot_keys", on, hot_threshold, sample_fraction),
        profile,
    )
    if not hot:
        return large.join(small, on)
    is_hot = F.col(on).isin(hot)
    plain = large.where(~is_hot).join(small.where(~F.col(on).isin(hot)), on)
    salted = salted_join(
        large.where(is_hot), small.where(F.col(on).isin(hot)), on, n_salts
    )
    return plain.unionByName(salted)


# Above this lineitem.parquet size the fact-fact join switches from the
# adaptive (sample-profile + salt-hot-keys) shuffle form to the BUCKETED
# LAYOUT: both pruned sides written bucketed+sorted on the join key once
# (a dataset artifact, reused across queries in the session), every
# subsequent join bucket-aligned and exchange-free. Crossover measured at
# 1024x (bench/BUCKETJOIN_x1024_r9.json): warm shuffle 59.5 s vs bucketed
# join 33.1 s after an 87.7 s one-time write — the write pays off within
# two joins. sf0.1 lineitem is ~70 MB, far below the gate, so the driver
# gate's plan (and hash) is unchanged.
_BUCKET_LAYOUT_GATE_BYTES = 1 << 30


def _salted_join_q(spark, sf_dir: str):
    """lineitem ⋈ orders revenue by priority — value-hash checked against
    the PLAIN join oracle, proving the physical strategy choice preserves
    join semantics exactly. Strategy tree (the documented 100 TB decision):
    hot keys found by the sampled profile → salt exactly those keys
    (adaptive_salted_join; pytest-proven on crafted skew); uniform keys
    below the layout gate → plain shuffle join (+ one cheap sample job);
    uniform keys ABOVE the gate (a repeated fact-fact join at scale) → the
    bucketed layout, because the r9 1024x probe measured salting/shuffling
    uniform keys as pure overhead while the bucket-aligned join runs with
    ZERO join exchanges (VERDICT r10 item 6)."""
    from duckdb_ml_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    import os as _os

    from duckdb_ml_spark.tables import table_size_bytes

    _lsz = table_size_bytes(sf_dir, "lineitem")  # dir-aware (derived tables)
    # r14 (VERDICT r13 item 5): the layout decision routes through the
    # SHARED advisor instead of a per-query copy of its gates. Same decision
    # tree as before — a measured-hot key keeps the salted path (bucketing
    # does NOT mitigate skew: a hot key still lands in one bucket), a
    # uniform fact above the 1 GB gate takes the bucketed layout, anything
    # below falls through to the adaptive join. Verdicts memoize per
    # cache_key so repeat builds skip the advisor's stats jobs.
    advice = layout_advise(
        li,
        "l_orderkey",
        workload="join",
        table_bytes=_lsz,
        cache_key=(sf_dir, "lineitem", "rowcount"),
    )
    if advice["layout"] == "bucketed":
        from duckdb_ml_spark.sources.readers import (
            bucketed_table,
            parquet_num_rows,
        )

        # bucket count scales with ROWS (~4M fact rows per bucket, floor
        # 32 to keep every core in the merge phase): bytes-based sizing
        # (source/128 MB) misjudges by the compression ratio — the 2048×
        # derived lineitem packs ~21M rows into 128 MB (6 B/row), which
        # would leave 22M-row single-task bucket merges. Row count comes
        # from parquet footers only (no data read). Measured end-to-end
        # at 2048× (bench/SKEWJOIN_x2048_r12.json): 307-bucket aligned
        # join 37.9 s vs 195.6 s salted-shuffle, paired DuckDB 66.5 s.
        nb = max(32, min(1024, parquet_num_rows(
            _os.path.join(sf_dir, "lineitem.parquet")) // 4_000_000))
        tl = bucketed_table(
            spark, sf_dir, li, "l_orderkey", "bkt_sj_li", nb, ["lineitem"]
        )
        to = bucketed_table(
            spark, sf_dir, od, "l_orderkey", "bkt_sj_od", nb, ["orders"]
        )
        j = spark.table(tl).join(spark.table(to), "l_orderkey")
        return j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    j = adaptive_salted_join(
        li, od, on="l_orderkey", n_salts=8,
        cache_key=(sf_dir, "lineitem", "skew_salted_join"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
    )


_SALTED_JOIN_ORACLE = """
SELECT o_orderpriority, count(*) AS n_items,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


def _key_skew_q(spark, sf_dir: str):
    """Top-10 hottest events.user_id keys with row share — the diagnostic a
    planner (or an engineer) runs BEFORE choosing broadcast / salt / AQE-skew
    strategies for a join at scale. Deterministic top-k: ties broken by key.

    share = n / total is one IEEE division of exact integers — bit-identical
    cross-engine, no rounding needed. Scale shape: one count shuffle on the
    key, a 1-row total broadcast back, and a top-10 — at 100 TB the final
    orderBy-limit is a TakeOrderedAndProject (per-partition heaps + driver
    merge of 10-row heads), never a global sort."""
    from duckdb_ml_spark.tables import load

    ev = load(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top=10)


_KEY_SKEW_ORACLE = """
WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
t AS (SELECT sum(n)::DOUBLE AS tot FROM c)
SELECT user_id, n, n / tot AS share
FROM c, t
ORDER BY n DESC, user_id
LIMIT 10
"""


# --- layout auto-selection (VERDICT r12 item 4) -------------------------------
#
# The repo ships four measured layouts (hive-partitioned, bucketed, z-order,
# bloom) with committed win/lose boundaries; layout_advise encodes those
# boundaries so a wrong layout pick — a real user footgun at 100 TB — is a
# defaulted decision instead of a guess. Every threshold cites the artifact
# that measured it.

PARTITION_NDV_MAX = 1024  # hive partitioning beyond ~1k values = small-files
PARTITION_MIN_ROWS_PER_VALUE = 10_000  # and each partition must be worth a file
# BLOOMCOLD_x256_r12: on a SEMI-CLUSTERED key (row-group min/max already
# prunes — plain scan read 5% of rows) the bloom layout LOSES 1.5× on bytes
# requested; on a HASH-SCATTERED key (min/max prunes nothing) it wins 2.9×.
# The advisor switches on the mean normalized row-group key span: ~0 means
# clustered (min/max suffices), ~1 means scattered (bloom pays).
BLOOM_SPAN_BOUNDARY = 0.3


def key_span_fraction(path: str, key: str) -> float | None:
    """Rows-weighted mean of (row-group key span / global key span) from
    parquet FOOTERS only — the clustering coefficient behind the bloom/minmax
    boundary. None when stats are missing or the key is non-numeric; 1.0 for
    a single row group (min/max cannot prune one group, so a point-lookup
    layout must treat it as scattered)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    p = Path(path)
    files = sorted(p.glob("*.parquet")) if p.is_dir() else [p]
    spans: list[tuple[float, float, int]] = []
    for f in files:
        pf = pq.ParquetFile(str(f))
        try:
            idx = pf.schema_arrow.names.index(key)
        except ValueError:
            return None
        md = pf.metadata
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(idx).statistics
            if st is None or st.min is None or st.max is None:
                return None
            if not isinstance(st.min, (int, float)):
                return None
            spans.append((float(st.min), float(st.max), md.row_group(i).num_rows))
    if not spans:
        return None
    if len(spans) == 1:
        return 1.0
    gmin = min(s[0] for s in spans)
    gmax = max(s[1] for s in spans)
    n = sum(s[2] for s in spans)
    if gmax <= gmin or n == 0:
        return 1.0
    return sum((b - a) / (gmax - gmin) * r for a, b, r in spans) / n


# advisor verdicts are dataset properties of a table (memoized like the
# hot-key lists): keyed on the caller-supplied cache_key + decision inputs,
# so the query builders that route through the advisor (skew_salted_join,
# revenue_by_nation, layout_advised_scan) pay its count/ndv/sample jobs once
# per session, not per build — required for the r14 integration to leave
# steady-state bench times unchanged
def layout_advise(
    df: DataFrame,
    key: str,
    workload: str = "join",
    second_key: str | None = None,
    table_path: str | None = None,
    table_bytes: int | None = None,
    cache_key=None,
) -> dict:
    # the gate constants join the memo key: they are module globals the
    # tests monkeypatch to force regimes, and a verdict cached under one
    # gate set must never answer for another
    akey = (
        cache_key, "advice", key, workload, second_key, table_path, table_bytes,
        _BUCKET_LAYOUT_GATE_BYTES, HOT_KEY_ROWS, PARTITION_NDV_MAX,
        PARTITION_MIN_ROWS_PER_VALUE, BLOOM_SPAN_BOUNDARY,
    )
    return memo(df.sparkSession, akey, lambda: _layout_advise_impl(
        df, key, workload, second_key, table_path, table_bytes, cache_key,
    ))


layout_advise.__doc__ = """Memoizing wrapper over _layout_advise_impl — see
its docstring for the decision tree; verdicts cache per (cache_key, inputs)."""


def _layout_advise_impl(
    df: DataFrame,
    key: str,
    workload: str = "join",
    second_key: str | None = None,
    table_path: str | None = None,
    table_bytes: int | None = None,
    cache_key=None,
) -> dict:
    """Pick a storage layout for `df` keyed on `key` from measured statistics.

    Returns {"layout", "reason", "stats"} with layout one of:
      zorder      — 2-D range workload on (key, second_key): Morton-clustered
                    files give balanced row-group pruning on BOTH columns
                    (layout_zorder_scan; balanced-pruning pytest contract).
      salted      — a measured-hot key would serialize ≥ HOT_KEY_ROWS onto
                    one task: no static layout fixes skew — salt the hot keys
                    at query time (adaptive_salted_join, pytest-proven).
      partitioned — low-NDV key with enough rows per value: hive partition
                    pruning is exact and free (source_partitioned_pruned).
      bucketed    — repeated join/agg on a high-NDV key above the 1 GB layout
                    gate: one bucketed shuffle-write amortizes every later
                    join to ZERO exchanges (BUCKETJOIN_x1024_r9: pays for
                    itself within two joins; REVENUE_FLOOR_x256_r12).
      bloom       — point lookups on a key SCATTERED across row groups
                    (span ≥ {BLOOM_SPAN_BOUNDARY}): per-row-group bloom
                    filters skip what min/max cannot (BLOOMCOLD hash-
                    scattered: 0.35× bytes requested).
      minmax      — point lookups on a key already CLUSTERED in file order:
                    plain row-group min/max stats prune better than a bloom
                    layout costs (BLOOMCOLD semi-clustered: bloom LOSES 1.5×
                    on bytes) — keep the table as is.
      none        — below every layout gate: a plain shuffle is cheapest
                    (the write would cost more than it saves).

    Statistics: ONE sampled grouped agg (0.4%) yields both ndv_sample and
    the hot-key estimate; parquet-footer clustering for lookup workloads;
    on-disk byte size for the bucket gate. Nothing scans data twice; the
    footer pass reads no data at all.

    The returned stats dict's fields are OPTIONAL beyond "workload"
    (ADVICE r14): "ndv_sample" (+ "est_top_key_rows" for join/agg) appear
    whenever the sampled agg runs; the EXACT "n_rows"/"ndv_approx" appear
    only when ndv_sample ≤ PARTITION_NDV_MAX escalates to the full-table
    pass (the rare low-cardinality case). Consumers must .get() them.
    Estimator variance: est_top extrapolates a 0.4% sample, so a key with
    true count near HOT_KEY_ROWS lands ~HOT_KEY_ROWS/250 sampled rows
    (±~3% relative sd) and borderline keys can flip salted↔hash across
    samples — acceptable because both layouts are value-correct and within
    ~2× of each other at the boundary, while a ≥2·HOT_KEY_ROWS key is
    detected with near certainty; verdicts are memoized per cache_key, so
    one session never flip-flops."""
    stats: dict = {"workload": workload}
    if workload in ("range2d", "range") and second_key:
        stats["second_key"] = second_key
        return {
            "layout": "zorder",
            "reason": "2-D range predicates on both columns — Morton layout "
            "gives balanced row-group pruning (layout_zorder_scan contract)",
            "stats": stats,
        }
    from duckdb_ml_spark.operators.dedup import _cached_count

    # ONE stats job over a sample — never a full-table count or ndv
    # aggregate on the common path: the r14 64× probe measured the full
    # approx_count_distinct + count over the 384M-row derived lineitem at
    # ~5 s of cold advisor cost that the plain byte gate never paid
    # (revenue_by_nation 2.56 → 4.86 s min-of-2). The sampled grouped agg
    # yields BOTH the hot-key estimate and a sound partitioned prefilter
    # (sample ndv ≤ table ndv, so sample ndv > PARTITION_NDV_MAX certainly
    # rules 'partitioned' out); only a genuinely low-cardinality key — the
    # rare case — escalates to the exact full-table ndv + row count.
    # ×4 (0.4%), not the old ×32: a ≥ HOT_KEY_ROWS key still lands ~4000
    # samples (detection certain), and the sampled shuffle is 8× smaller —
    # the 64× probe read 0.84 s warm at ×32 vs 0.57 s at ×4
    frac = min(1.0, HOT_SAMPLE_FRACTION * 4)
    row = (
        df.sample(fraction=frac, seed=7)
        .groupBy(key)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.approx_count_distinct(key).alias("ndv"),
            F.max("c").alias("top"),
        )
        .head()
    )
    ndv_sample = int(row["ndv"] or 0)
    stats["ndv_sample"] = ndv_sample
    if workload in ("join", "agg") and row["top"] is not None:
        est_top = int(row["top"] / frac)
        stats["est_top_key_rows"] = est_top
        if est_top >= HOT_KEY_ROWS:
            return {
                "layout": "salted",
                "reason": f"hot key would serialize ~{est_top} rows onto "
                "one task (≥ HOT_KEY_ROWS) — salt at query time; no "
                "static layout fixes skew (adaptive_salted_join)",
                "stats": stats,
            }
    n = 0
    ndv = max(ndv_sample, PARTITION_NDV_MAX + 1)
    if ndv_sample <= PARTITION_NDV_MAX:
        n = _cached_count(df, cache_key)
        agg = df.agg(F.approx_count_distinct(key).alias("ndv")).head()
        ndv = int(agg["ndv"]) or 1
        stats.update(n_rows=n, ndv_approx=ndv)
    if workload == "lookup":
        span = key_span_fraction(table_path, key) if table_path else None
        stats["key_span_fraction"] = span
        if span is not None and span <= BLOOM_SPAN_BOUNDARY:
            return {
                "layout": "minmax",
                "reason": f"key clustered in file order (span {span:.2f} ≤ "
                f"{BLOOM_SPAN_BOUNDARY}) — min/max stats already prune; a "
                "bloom layout LOSES 1.5× on bytes here (BLOOMCOLD "
                "semi-clustered boundary)",
                "stats": stats,
            }
        return {
            "layout": "bloom",
            "reason": "key scattered across row groups (span "
            f"{'unknown' if span is None else f'{span:.2f}'} > "
            f"{BLOOM_SPAN_BOUNDARY}) — min/max prunes nothing; per-row-group "
            "blooms cut bytes requested 2.9× (BLOOMCOLD hash-scattered)",
            "stats": stats,
        }
    if ndv <= PARTITION_NDV_MAX and n // max(ndv, 1) >= PARTITION_MIN_ROWS_PER_VALUE:
        return {
            "layout": "partitioned",
            "reason": f"low-NDV key (~{ndv} values, ≥"
            f"{PARTITION_MIN_ROWS_PER_VALUE} rows each) — hive partition "
            "pruning is exact and free (source_partitioned_pruned)",
            "stats": stats,
        }
    if table_bytes is None and table_path:
        import os as _os

        table_bytes = sum(
            _os.path.getsize(_os.path.join(r, f))
            for r, _, fs in _os.walk(table_path)
            for f in fs
        ) if _os.path.isdir(table_path) else (
            _os.path.getsize(table_path) if _os.path.exists(table_path) else None
        )
    stats["table_bytes"] = table_bytes
    if (
        workload in ("join", "agg")
        and table_bytes is not None
        and table_bytes >= _BUCKET_LAYOUT_GATE_BYTES
    ):
        return {
            "layout": "bucketed",
            "reason": "repeated join/agg on a high-NDV key above the 1 GB "
            "layout gate — one bucketed write buys zero-exchange joins "
            "(BUCKETJOIN_x1024_r9, pays off within two joins)",
            "stats": stats,
        }
    return {
        "layout": "none",
        "reason": "below every layout gate — a plain shuffle costs less than "
        "any layout write would save",
        "stats": stats,
    }


def _layout_advised_q(spark, sf_dir: str):
    """Point lookups routed through layout_advise (VERDICT r12 item 4): the
    advisor reads orders' footer stats for o_orderkey (driver parquet is
    single-row-group → span 1.0 → scattered → 'bloom'; a pre-sorted
    multi-group table would route to 'minmax', pytest-pinned both ways) and
    the query executes the SAME 3-key probe over the advised layout.
    Values are layout-invariant by construction — the oracle is the plain
    probe — so the hash check proves the advisor changes the physical
    strategy, never the results."""
    import os as _os

    from duckdb_ml_spark.tables import load

    advice = layout_advise(
        load(spark, sf_dir, "orders"),
        "o_orderkey",
        workload="lookup",
        table_path=_os.path.join(sf_dir, "orders.parquet"),
        cache_key=(sf_dir, "orders", "rowcount"),
    )
    if advice["layout"] == "bloom":
        return _bloom_q(spark, sf_dir)
    # minmax: the table as-is IS the layout — plain pruned probe
    orders, keys = _bloom_keys(spark, sf_dir)
    return (
        orders.where(F.col("o_orderkey").isin(*[int(k) for k in keys]))
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    )


from duckdb_ml_spark.plans.relational import QuerySpec  # noqa: E402

QUERIES = {
    "skew_salted_agg": QuerySpec(
        "skew_salted_agg", _salted_agg_q, _SALTED_AGG_ORACLE,
        doc="Two-phase salted aggregation (hot-key spread) == plain GROUP BY.",
        tags=("scale", "skew"),
    ),
    "layout_zorder_scan": QuerySpec(
        "layout_zorder_scan", _zorder_q, _ZORDER_ORACLE,
        doc="Z-order (Morton) clustered parquet layout scanned with a 2-D box "
        "predicate — multi-column row-group pruning on plain parquet (the "
        "OPTIMIZE ZORDER lake pass); results layout-invariant vs the oracle; "
        "balanced-pruning contract (every predicate shape prunes, vs a "
        "single-column sort's 1.0 on the other column) pytest-asserted.",
        tags=("scale", "layout", "zorder"),
    ),
    "layout_bloom_scan": QuerySpec(
        "layout_bloom_scan", _bloom_q, _BLOOM_ORACLE,
        doc="Parquet bloom-filter layout probed with point lookups — "
        "equality pruning where min/max stats are useless (key scattered "
        "across every file); results layout-invariant vs the oracle; "
        "scan-metric pruning contract pytest-asserted.",
        tags=("scale", "layout", "bloom"),
    ),
    "skew_salted_join": QuerySpec(
        "skew_salted_join", _salted_join_q, _SALTED_JOIN_ORACLE,
        doc="Adaptive skew join: sampled hot-key profile, salt-explode only "
        "measured-hot keys, plain join elsewhere == plain join, hash-verified.",
        tags=("scale", "skew", "join"),
    ),
    "dq_key_skew": QuerySpec(
        "dq_key_skew", _key_skew_q, _KEY_SKEW_ORACLE,
        doc="Hot-key diagnosis: top-10 join-key frequencies + exact share "
        "(the pre-join skew audit; deterministic tiebreak).",
        tags=("scale", "skew", "dq"),
    ),
    "layout_advised_scan": QuerySpec(
        "layout_advised_scan", _layout_advised_q, _BLOOM_ORACLE,
        doc="Point lookups routed through layout_advise (footer clustering "
        "stats → bloom vs minmax, BLOOMCOLD boundary encoded): the advisor "
        "picks the physical layout, the oracle is the plain probe — values "
        "layout-invariant; regime pins in tests/test_scale.py.",
        tags=("scale", "layout", "advisor"),
    ),
}
