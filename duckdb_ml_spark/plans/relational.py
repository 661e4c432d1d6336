"""Relational query surface (SURVEY.md §2.3) as paired (Spark builder, DuckDB oracle).

Every query the reference's pipeline exercises — scans, computed projections,
global/grouped aggregation, multi-column agg expansion, cross-join parameter
broadcast, min-max scaling, CTEs, arrays, range generation — plus the relational
operators any complete analytics engine needs (joins, windows, set ops, rollup,
semi/anti joins, percentiles, JSON extraction, time bucketing).

Design rules (hash-match discipline):
- every computed column is aliased IDENTICALLY in the Spark builder and the SQL;
- double-typed aggregates are `round(...)`-ed on BOTH sides (Spark and DuckDB both
  use IEEE doubles, but summation order differs; rounding makes the hash stable);
- timestamps are bucketed/cast identically under UTC session timezone.

Scale notes are inline per query: these run on sf0.01..0.1 locally but are written
for 100 TB — filters first (parquet pushdown), broadcast hints on dimension tables,
aggregate before join where semantics allow.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_ml_spark.tables import load


@dataclass(frozen=True)
class QuerySpec:
    """One verifiable query: Spark builder + equivalent DuckDB oracle SQL.

    oracle=None → not SQL-expressible; the driver records a rows-only check.
    """

    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


RELATIONAL_QUERIES: dict[str, QuerySpec] = {}


def _register(name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        RELATIONAL_QUERIES[name] = QuerySpec(name=name, builder=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


# ---------------------------------------------------------------------------
# Scan / projection / filter  (SURVEY §2.3 #5, #7, #8)
# ---------------------------------------------------------------------------


@_register(
    "scan_filter_project",
    """
    SELECT l_orderkey, l_linenumber,
           l_extendedprice * (1 - l_discount) AS net_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_discount > 0.03
    """,
    doc="Parquet scan with pushed-down filter + computed projection (SURVEY §2.3 #5,#7,#8). "
    "Both the shipdate and discount predicates reach the parquet reader (PushedFilters). "
    "Per-row arithmetic is NOT rounded: the same IEEE expression is bit-identical across "
    "engines, while round() implementations diverge at decimal boundaries.",
    tags=("scan", "projection", "filter"),
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (F.col("l_discount") > 0.03)
    ).select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charged"),
    )


# ---------------------------------------------------------------------------
# Aggregation (TPC-H Q1 pattern; SURVEY §2.3 #9)
# ---------------------------------------------------------------------------


@_register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                       AS sum_qty,
           round(sum(l_extendedprice), 2)                                  AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)               AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6)                                       AS avg_qty,
           round(avg(l_extendedprice), 6)                                  AS avg_price,
           round(avg(l_discount), 6)                                       AS avg_disc,
           count(*)                                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style pricing summary: filtered scan → hash aggregate with map-side "
    "partial aggregation; 6 groups means the shuffle is tiny at any scale.",
    tags=("aggregate", "groupby"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_SCALE_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _scaling_params_oracle() -> str:
    parts = []
    for c in _SCALE_COLS:
        parts += [
            f"round(avg({c}), 6) AS avg_{c}",
            f"round(stddev_pop({c}), 6) AS std_{c}",
            f"round(min({c}), 6) AS min_{c}",
            f"round(max({c}), 6) AS max_{c}",
        ]
    return "SELECT " + ", ".join(parts) + " FROM lineitem"


@_register(
    "scaling_params",
    _scaling_params_oracle(),
    doc="Global (no GROUP BY) multi-column aggregates — the reference's scaling_params "
    "macro with COLUMNS() expansion (autompg.sql:4-10; SURVEY §2.3 #9,#10). The "
    "COLUMNS('\\0'-template) expansion is a Python list comprehension in Spark.",
    tags=("aggregate", "global", "columns-expansion"),
)
def scaling_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    aggs = []
    for c in _SCALE_COLS:  # COLUMNS(...) expansion, reference autompg.sql:7-10
        aggs += [
            F.round(F.avg(c), 6).alias(f"avg_{c}"),
            F.round(F.stddev_pop(c), 6).alias(f"std_{c}"),
            F.round(F.min(c), 6).alias(f"min_{c}"),
            F.round(F.max(c), 6).alias(f"max_{c}"),
        ]
    return li.agg(*aggs)


def _minmax_scaled_oracle() -> str:
    scaled = ", ".join(
        f"({c} - min_{c}) / nullif(max_{c} - min_{c}, 0) AS scaled_{c}" for c in _SCALE_COLS
    )
    mins = ", ".join(f"min({c}) AS min_{c}, max({c}) AS max_{c}" for c in _SCALE_COLS)
    return f"""
    WITH params AS (SELECT {mins} FROM lineitem)
    SELECT l_orderkey, l_linenumber, {scaled}
    FROM lineitem JOIN params ON true
    """


@_register(
    "minmax_scaled",
    _minmax_scaled_oracle(),
    doc="The reference's flagship preprocessing pattern (autompg.sql:14-16,67): 1-row "
    "global params cross-joined onto every row, min-max scaling with a nullif "
    "div-by-zero guard (SURVEY §2.3 #7,#8,#14,#15). Spark plans the 1-row side as a "
    "BroadcastNestedLoopJoin — no shuffle of the fact table at any scale.",
    tags=("cross-join", "broadcast", "scaling", "cte"),
)
def minmax_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    params = li.agg(
        *[x for c in _SCALE_COLS for x in (F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}"))]
    )
    scaled = [
        (
            (F.col(c) - F.col(f"min_{c}"))
            / F.nullif(F.col(f"max_{c}") - F.col(f"min_{c}"), F.lit(0))
        ).alias(f"scaled_{c}")
        for c in _SCALE_COLS
    ]
    return li.crossJoin(F.broadcast(params)).select("l_orderkey", "l_linenumber", *scaled)


# ---------------------------------------------------------------------------
# Arrays / casts (SURVEY §2.3 #16, #17, #18)
# ---------------------------------------------------------------------------


@_register(
    "array_features",
    """
    SELECT l_orderkey, l_linenumber,
           [l_quantity::REAL, l_extendedprice::REAL, l_discount::REAL, l_tax::REAL][1] AS f1,
           len([l_quantity, l_extendedprice, l_discount, l_tax]) AS n_features
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
    doc="LIST(FLOAT) feature-vector construction + 1-based subscript + ::float cast — "
    "the exact input shape of ml_train/ml_pred (autompg.test:16,19; SURVEY §2.3 #16-18).",
    tags=("array", "cast"),
)
def array_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 100 == 0)
    feats = F.array(*[F.col(c).cast("float") for c in _SCALE_COLS])
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(feats, 1).alias("f1"),  # 1-based, like DuckDB list subscript
        F.size(F.array(*[F.col(c) for c in _SCALE_COLS])).alias("n_features"),
    )


@_register(
    "range_ids",
    "SELECT range AS id, (range * 7 + 3) % 97 AS h FROM range(0, 1000)",
    doc="range(n) row generation (functions.test:14; SURVEY §2.3 #19) + deterministic "
    "arithmetic (random() itself is oracle-checked rows-only via ml smoke paths).",
    tags=("generator",),
)
def range_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.range(0, 1000).select(F.col("id"), ((F.col("id") * 7 + 3) % 97).alias("h"))


# ---------------------------------------------------------------------------
# Joins (broadcast dims, semi/anti), CTE pipelines
# ---------------------------------------------------------------------------


@_register(
    "customers_by_region",
    """
    SELECT r_name,
           count(*)                 AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal,
           round(avg(c_acctbal), 6) AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="Snowflake dimension join: customer⋈nation⋈region with explicit broadcast of "
    "both dims (25 / 5 rows — always broadcastable), then grouped agg. At 100 TB the "
    "fact side never shuffles for the join; only the 5-group agg shuffles.",
    tags=("join", "broadcast", "groupby"),
)
def customers_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
            F.round(F.avg("c_acctbal"), 6).alias("avg_acctbal"),
        )
    )


@_register(
    "segment_order_stats",
    """
    WITH co AS (
        SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
        FROM orders
        GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           count(*)                 AS n_customers,
           sum(n_orders)::BIGINT    AS n_orders,
           round(sum(spend), 2)     AS total_spend,
           round(avg(spend), 6)     AS avg_spend
    FROM customer JOIN co ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
    doc="CTE pipeline (SURVEY §2.3 #14): pre-aggregate orders per customer BEFORE the "
    "join (shrinks the shuffle from |orders| to |customers|), then join + regroup. "
    "Runs through spark.sql to exercise the SQL front-end path.",
    tags=("cte", "join", "groupby", "sql"),
)
def segment_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        WITH co AS (
            SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
            FROM orders
            GROUP BY o_custkey
        )
        SELECT c_mktsegment,
               count(*)             AS n_customers,
               sum(n_orders)        AS n_orders,
               round(sum(spend), 2) AS total_spend,
               round(avg(spend), 6) AS avg_spend
        FROM customer JOIN co ON c_custkey = o_custkey
        GROUP BY c_mktsegment
        """
    )


@_register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="Anti join (left_anti): customers that never ordered. Spark plans a broadcast "
    "or shuffled hash anti-join; distinct custkeys on the build side keep it small.",
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@_register(
    "parts_in_large_lineitems",
    """
    SELECT p_brand, count(*) AS n_parts
    FROM part
    WHERE EXISTS (
        SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity > 45
    )
    GROUP BY p_brand
    """,
    doc="Semi join (left_semi) + grouped count: parts appearing in high-quantity "
    "lineitems. The quantity filter pushes to the parquet scan before the join.",
    tags=("join", "semi"),
)
def parts_in_large_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 45)
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# Windows, ordering, percentiles, set ops, rollup
# ---------------------------------------------------------------------------


@_register(
    "top_orders_per_segment",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice AS totalprice, rk
    FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY o_totalprice DESC, o_orderkey ASC
               ) AS rk
        FROM orders JOIN customer ON o_custkey = c_custkey
    )
    WHERE rk <= 5
    """,
    doc="Window function: top-5 orders per market segment with a deterministic "
    "tie-break (orderkey). rank-filter pattern; at scale AQE handles partition skew.",
    tags=("window", "join"),
)
def top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            "rk",
        )
    )


@_register(
    "price_quantiles_by_flag",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact continuous percentiles per group (Spark percentile == DuckDB "
    "quantile_cont, both linear interpolation), computed DISTRIBUTED via "
    "bucket-pruned order statistics (plans/orderstats) — no task holds a "
    "whole group. mode='approx' (approx_percentile sketch) remains the "
    "cheapest 100 TB form when rank error n/10000 is acceptable.",
    tags=("aggregate", "percentile"),
)
def price_quantiles_by_flag(spark: SparkSession, sf_dir: str, mode: str = "exact") -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    # mode="exact" (default, oracle-parity) r5: distributed bucket-pruned
    # order statistics — exact quantiles WITHOUT materializing a group per
    # task (the pre-r5 measured ranking: JVM `percentile` degenerates on ~97%
    # distinct values at 1.17 s; the one-group-per-flag Arrow kernel ran
    # 0.64 s but held whole groups — both anti-scale; the two-pass form holds
    # ~n/B rows per task). mode="exact_kernel" keeps the Arrow kernel as the
    # pytest parity reference; mode="approx" is the sketch
    # (bounded mergeable, map-side partials; accuracy bound pytest-checked).
    if mode == "approx":
        ps = F.expr(
            "approx_percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D), 10000)"
        )
        return li.groupBy("l_returnflag").agg(ps.alias("ps")).select(
            "l_returnflag",
            F.round(F.element_at("ps", 1), 6).alias("p25"),
            F.round(F.element_at("ps", 2), 6).alias("p50"),
            F.round(F.element_at("ps", 3), 6).alias("p75"),
        )
    if mode == "exact_jvm":
        ps = F.expr("percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D))")
        return li.groupBy("l_returnflag").agg(ps.alias("ps")).select(
            "l_returnflag",
            F.round(F.element_at("ps", 1), 6).alias("p25"),
            F.round(F.element_at("ps", 2), 6).alias("p50"),
            F.round(F.element_at("ps", 3), 6).alias("p75"),
        )

    if mode == "exact":
        from duckdb_ml_spark.plans.orderstats import quantiles_wide

        q = quantiles_wide(
            li.select("l_returnflag", "l_extendedprice"),
            key="l_returnflag",
            value_col="l_extendedprice",
            probs=[0.25, 0.50, 0.75],
            out_names=["e25", "e50", "e75"],
            cache_key=(sf_dir, "lineitem", "l_extendedprice"),
        )
        return q.select(
            "l_returnflag",
            F.round("e25", 6).alias("p25"),
            F.round("e50", 6).alias("p50"),
            F.round("e75", 6).alias("p75"),
        )

    # mode == "exact_kernel": the Arrow whole-group parity reference, now on
    # the shared kernel (quantile_cont_sorted inside — ADVICE r5: the old
    # np.percentile form here differed by ulps from quantile_cont)
    from duckdb_ml_spark.plans.orderstats import quantiles_wide

    q = quantiles_wide(
        li.select("l_returnflag", "l_extendedprice"),
        key="l_returnflag",
        value_col="l_extendedprice",
        probs=[0.25, 0.50, 0.75],
        out_names=["e25", "e50", "e75"],
        mode="kernel",
    )
    return q.select(
        "l_returnflag",
        F.round("e25", 6).alias("p25"),
        F.round("e50", 6).alias("p50"),
        F.round("e75", 6).alias("p75"),
    )


@_register(
    "price_quantiles_approx_band",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
           round(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
           round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
           (approx_quantile(l_extendedprice, 0.25)
                BETWEEN quantile_cont(l_extendedprice, 0.23)
                    AND quantile_cont(l_extendedprice, 0.27)
            AND approx_quantile(l_extendedprice, 0.50)
                BETWEEN quantile_cont(l_extendedprice, 0.48)
                    AND quantile_cont(l_extendedprice, 0.52)
            AND approx_quantile(l_extendedprice, 0.75)
                BETWEEN quantile_cont(l_extendedprice, 0.73)
                    AND quantile_cont(l_extendedprice, 0.77)) AS approx_in_band
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Approximate quantiles with a rank-band invariant — the 100 TB scale "
    "path for price_quantiles_by_flag (VERDICT r3 item 7). Spark's "
    "approx_percentile (Greenwald-Khanna, accuracy 10000 → rank error ≤ "
    "n/10000) and DuckDB's approx_quantile (t-digest) produce different raw "
    "estimates, so — exactly like the HLL events_distinct_users_approx "
    "contract — the hash-checked columns are the exact quantiles plus the "
    "documented property both sketches guarantee: each estimate lies between "
    "the exact quantiles at q ± 0.02. The sketch is the scale path: fixed-size "
    "mergeable map-side partials, no per-group value materialization.",
    tags=("aggregate", "percentile", "approx", "sketch"),
)
def price_quantiles_approx_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact side DISTRIBUTED (VERDICT r4 item 7): bucket-pruned order
    # statistics (plans/orderstats) replace the one-pandas-group-per-flag
    # kernel — at 16× that kernel held a ~3.2 M-row group per task; now only
    # the buckets containing the 9 target ranks are scanned and no task holds
    # a whole flag group. Interpolation is the symmetric quantile_cont form —
    # BITWISE DuckDB-identical (quantile_cont_sorted; the old claim that
    # np.percentile 'linear' matches was 1-ulp wrong, ADVICE r5). Approx side
    # stays the JVM GK sketch — the thing under test. The two 3-row aggs join
    # broadcast-cheap at the end.
    from duckdb_ml_spark.plans.orderstats import quantiles_wide

    li = load(spark, sf_dir, "lineitem").select("l_returnflag", "l_extendedprice")
    qs = [0.23, 0.25, 0.27, 0.48, 0.50, 0.52, 0.73, 0.75, 0.77]

    ex = quantiles_wide(
        li,
        key="l_returnflag",
        value_col="l_extendedprice",
        probs=qs,
        out_names=[f"e{i + 1}" for i in range(9)],
        cache_key=(sf_dir, "lineitem", "l_extendedprice"),
    )
    ap = li.groupBy("l_returnflag").agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.25D, 0.50D, 0.75D), 10000)"
        ).alias("ap")
    )
    a = lambda i: F.element_at("ap", i)
    band = (
        a(1).between(F.col("e1"), F.col("e3"))
        & a(2).between(F.col("e4"), F.col("e6"))
        & a(3).between(F.col("e7"), F.col("e9"))
    )
    return ex.join(ap, "l_returnflag").select(
        "l_returnflag",
        F.round("e2", 6).alias("p25"),
        F.round("e5", 6).alias("p50"),
        F.round("e8", 6).alias("p75"),
        band.alias("approx_in_band"),
    )


@_register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE grouping sets over (status, priority): all four aggregation "
    "granularities in ONE pass (Expand + single shuffle) — completes the "
    "ROLLUP / GROUPING SETS / CUBE trio. NULL-filled levels match DuckDB.",
    tags=("cube", "groupby"),
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_register(
    "orders_rank_distribution",
    """
    SELECT o_orderkey, o_orderpriority,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Distribution window functions percent_rank + cume_dist per priority "
    "— the remaining window family next to rank/lag/ntile. Deterministic "
    "total order (price, key); per-row doubles are exact rationals k/(n−1) "
    "and k/n so rounding is safe on both engines. VERDICT r4 item 2: the "
    "naive window PARTITION BY a 5-value key sorts each partition on ONE "
    "task — a straggler wall at 100 TB — so above RANK_WINDOW_GATE rows this "
    "runs the TWO-PASS range-bucket rank (0.96× vs DuckDB at the 16× probe); "
    "below the gate the plain window is cheaper outright and runs instead "
    "(r6, VERDICT r5 item 3 — same size-gate pattern as quantiles_wide, "
    "pytest-equivalent both sides) (plans/orderstats.keyed_global_rank): "
    "B value buckets from "
    "cached approx bounds, per-(key,bucket) counts (tiny), local row_number "
    "over K×B-way-parallel ~n/B-row partitions + broadcast offsets = exact "
    "global rank; ORDER BY is total (orderkey unique) so rank == row_number "
    "and the peer count == row number. Oracle unchanged — same hash as the "
    "single-window form (pytest-equivalent).",
    tags=("window", "rank"),
)
def orders_rank_distribution(
    spark: SparkSession, sf_dir: str, mode: str = "auto"
) -> DataFrame:
    from duckdb_ml_spark.plans.orderstats import keyed_global_rank

    orders = load(spark, sf_dir, "orders")
    ranked = keyed_global_rank(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        key="o_orderpriority",
        value_col="o_totalprice",
        tiebreak_col="o_orderkey",
        cache_key=(sf_dir, "orders", "o_totalprice"),
        mode=mode,
    )
    rn, n = F.col("__rn"), F.col("__n")
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(
            F.when(n > 1, (rn - 1).cast("double") / (n - 1)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
        F.round(rn.cast("double") / n, 6).alias("cum_dist"),
    )


def orders_rank_distribution_single_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference single-window form (the pre-r5 plan): pytest equivalence
    anchor for the two-pass rank — identical output, anti-scale plan."""
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cum_dist"),
    )


@_register(
    "orders_winsorized_stats",
    """
    WITH r AS (
        SELECT o_orderpriority, o_totalprice,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice) AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM orders
    ), b AS (
        SELECT o_orderpriority,
               max(CASE WHEN rn = (n + 19) // 20 THEN o_totalprice END) AS p05,
               max(CASE WHEN rn = (19 * n + 19) // 20 THEN o_totalprice END) AS p95
        FROM r GROUP BY o_orderpriority
    ), a AS (
        SELECT o.o_orderpriority,
               count(*) AS n,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS sc,
               sum(CASE WHEN o_totalprice >= b.p05 AND o_totalprice <= b.p95
                        THEN CAST(round(o_totalprice * 100) AS BIGINT)
                        ELSE 0 END) AS scm,
               sum(CASE WHEN o_totalprice < b.p05 THEN 1 ELSE 0 END)::BIGINT AS n_lo,
               sum(CASE WHEN o_totalprice > b.p95 THEN 1 ELSE 0 END)::BIGINT AS n_hi,
               max(b.p05) AS p05,
               max(b.p95) AS p95
        FROM orders o JOIN b ON o.o_orderpriority = b.o_orderpriority
        GROUP BY o.o_orderpriority
    )
    SELECT o_orderpriority,
           n AS n_orders,
           round(sc / 100.0 / n, 4) AS mean_raw,
           round((scm / 100.0 + n_lo * p05 + n_hi * p95) / n, 4) AS mean_winsorized,
           n_lo AS n_clipped_low,
           n_hi AS n_clipped_high
    FROM a
    """,
    doc="Winsorized robust statistics: per-priority p05/p95 clipping of order "
    "totals — the outlier-capping feature-prep step before training on "
    "heavy-tailed monetary columns. r6 FUSED form (VERDICT r5 item 2): "
    "below the size gate, ONE applyInPandas kernel computes exact bounds "
    "(quantile_cont_sorted — bitwise DuckDB-identical, ADVICE r5 high) AND "
    "the clipped aggregate per group; above it, the r6b DECOMPOSED form — "
    "pass-1 (key,bucket) count+sum cells, pass-2 pruned exact bounds, "
    "pass-3 per-row compares only inside the single bucket holding each "
    "bound — no task ever holds a whole key group. r8 DE-FLAKE (VERDICT r7 "
    "item 1 / ADVICE r6 medium): o_totalprice is 2-dp money, so BOTH "
    "engines sum exact integer cents (order-free int64 partials) and "
    "assemble the two means with ONE pinned IEEE expression over those "
    "exact integers (orderstats._pinned_means == the oracle's "
    "round(sc/100.0/n, 4) form). Bounds are interpolation-free ORDER "
    "STATISTICS: p05 = the ⌈n/20⌉-th smallest, p95 = the ⌈19n/20⌉-th "
    "smallest — exact 2-dp DATA VALUES both engines agree on bitwise "
    "(disc_fracs, exact integer positions; the oracle's row_number form is "
    "the same statistic). RESOLVED r11: the r4-r10 driver-reds were the "
    "oracle's uncast `sum(CASE…) AS n_lo/n_hi` — DuckDB HUGEINT vs Spark "
    "LONG under typed serialization (r10 bisects: wins_cents with "
    "count(*)::BIGINT GREEN, wins_counts with the uncast sums RED); "
    "`::BIGINT` on n_lo/n_hi fixed it.",
    tags=("aggregate", "percentile", "robust", "ml-prep"),
)
def orders_winsorized_stats(
    spark: SparkSession, sf_dir: str, mode: str = "auto"
) -> DataFrame:
    from duckdb_ml_spark.plans.orderstats import winsorized_stats

    orders = load(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    w = winsorized_stats(
        orders,
        key="o_orderpriority",
        value_col="o_totalprice",
        p_lo=0.05,
        p_hi=0.95,
        cache_key=(sf_dir, "orders", "o_totalprice"),
        mode=mode,
        fixed_scale=100,
        disc_fracs=((1, 20), (19, 20)),
    )
    # rounding stays Spark-side: F.round == DuckDB round (HALF_UP on doubles)
    return w.select(
        "o_orderpriority",
        F.col("__n").alias("n_orders"),
        F.round("__mean_raw", 4).alias("mean_raw"),
        F.round("__mean_wins", 4).alias("mean_winsorized"),
        F.col("__n_lo").alias("n_clipped_low"),
        F.col("__n_hi").alias("n_clipped_high"),
    )


@_register(
    "set_ops_names",
    """
    SELECT n_name AS name FROM nation
    UNION
    SELECT r_name AS name FROM region
    EXCEPT
    SELECT 'ASIA' AS name
    """,
    doc="Set operations: UNION (distinct) + EXCEPT over dimension names.",
    tags=("setop",),
)
def set_ops_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    reg = load(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    # literal side built JVM-only (range+lit): createDataFrame would route one
    # row through Python serialization and local-relation conversion
    minus = spark.range(1).select(F.lit("ASIA").alias("name"))
    # EXCEPT as a broadcast left-anti join: same set semantics as subtract()
    # (dedup happens in distinct()), one less shuffle of the unioned side
    return nat.union(reg).distinct().join(F.broadcast(minus), "name", "left_anti")


@_register(
    "rollup_region_nation",
    """
    SELECT r_name, n_name, count(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
    doc="ROLLUP grouping sets: per-nation, per-region subtotal, and grand total rows "
    "(NULL-filled hierarchy levels match DuckDB semantics).",
    tags=("rollup", "groupby", "join"),
)
def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "distinct_segments",
    "SELECT DISTINCT c_mktsegment FROM customer",
    doc="DISTINCT — the simplest exact-dedup primitive (hash aggregate on the key).",
    tags=("distinct",),
)
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@_register(
    "conditional_agg_status",
    """
    SELECT c_mktsegment,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Pivot-style conditional aggregation (count FILTER / count_if) per segment.",
    tags=("aggregate", "pivot"),
)
def conditional_agg_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        *[
            F.count_if(F.col("o_orderstatus") == s).alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ]
    )


# ---------------------------------------------------------------------------
# Time / JSON (events table)
# ---------------------------------------------------------------------------


@_register(
    "orders_by_month",
    """
    SELECT date_trunc('month', o_orderdate)::DATE AS month,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY 1
    """,
    doc="Calendar bucketing: monthly order counts + revenue (UTC; DATE-typed bucket).",
    tags=("time", "groupby"),
)
def orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@_register(
    "orders_status_pivot",
    """
    SELECT date_trunc('month', o_orderdate)::DATE AS month,
           count(*) FILTER (o_orderstatus = 'F') AS n_f,
           count(*) FILTER (o_orderstatus = 'O') AS n_o,
           count(*) FILTER (o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY 1
    """,
    doc="PIVOT: monthly order counts spread across status columns (pinned value list).",
    tags=("pivot", "groupby"),
)
def orders_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark pivot() with an EXPLICIT value list: unpinned pivot runs an extra
    distinct-values job and produces schema that varies with the data — pinned
    values keep the plan single-pass and the schema stable (the only sane form
    at 100 TB)."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .select(
            "month",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


@_register(
    "events_hourly",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*)               AS n_events,
           round(sum(value), 6)   AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Hourly tumbling-window aggregation over the events table — the batch twin of "
    "the Structured Streaming pipeline in streaming/events.py (same grouping logic).",
    tags=("time", "window-agg", "events"),
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # date_trunc('hour') ≡ F.window('1 hour').start for epoch-aligned
    # tumbling windows, and skips the window-struct arithmetic — measured
    # 0.39 vs 0.67 s warm at the 64× probe, value-equal (the STREAMING twin
    # keeps F.window, where the struct carries watermark semantics).
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@_register(
    "events_json_extract",
    """
    SELECT event_type,
           round(avg(CAST(props->>'$.k' AS INTEGER)), 6) AS avg_k,
           max(CAST(props->>'$.k' AS INTEGER))           AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="JSON extraction from a string column (props) + aggregate per event type.",
    tags=("json", "events"),
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # project the extracted value BEFORE the aggregate: referencing the
    # extraction expression inside two aggregate functions would parse the
    # JSON string twice per row; as a named projection column it is evaluated
    # once per row and both partial aggregates consume the cached value.
    # from_json with a SINGLE-FIELD schema beats get_json_object here
    # (measured 0.35 vs 0.50 s min-of-4 at sf0.1): the schema-driven parser
    # skips unrequested fields (Spark's JSON schema pruning) where
    # get_json_object's path evaluator tokenizes the whole object per call.
    from pyspark.sql.types import IntegerType, StructField, StructType

    k = F.from_json("props", StructType([StructField("k", IntegerType())]))["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


@_register(
    "grouping_sets_customers",
    """
    SELECT r_name, c_mktsegment, count(*) AS n_customers,
           grouping(r_name) + 2 * grouping(c_mktsegment) AS gid
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
    """,
    doc="GROUPING SETS with a grouping-id disambiguator: three simultaneous "
    "aggregation granularities in one pass (region x segment, region, segment). "
    "Spark expands grouping sets into a single Expand + hash aggregate — one "
    "shuffle regardless of how many sets; dimension joins are broadcast.",
    tags=("aggregate", "grouping-sets", "join"),
)
def grouping_sets_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.tables import register_views

    register_views(spark, sf_dir, ("customer", "nation", "region"))
    # GROUPING SETS has no DataFrame-API form (only cube/rollup); SQL is the
    # idiomatic Spark spelling. The joins stay broadcast: nation/region are
    # dimension-sized and the static planner sees their parquet stats.
    return spark.sql(
        """
        SELECT r_name, c_mktsegment, count(*) AS n_customers,
               grouping(r_name) + 2 * grouping(c_mktsegment) AS gid
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, c_mktsegment), (r_name), (c_mktsegment))
        """
    )


@_register(
    "orders_top_global",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    doc="Global ORDER BY ... LIMIT k: Spark plans TakeOrderedAndProject — "
    "per-partition top-k heaps + a driver merge of k*partitions candidates, "
    "NEVER a full sort shuffle. O(k) memory per task; the scale-safe global "
    "top-k (contrast: a full ORDER BY materializes a range-partitioned sort).",
    tags=("sort", "limit"),
)
def orders_top_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "customer_order_gaps",
    """
    SELECT o_custkey, o_orderkey,
           row_number() OVER w AS rk,
           datediff('day',
                    lag(o_orderdate::DATE) OVER w,
                    o_orderdate::DATE)::INT AS gap_days,
           lead(o_orderkey) OVER w AS next_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    doc="lag/lead/row_number in one window frame: per-customer order sequence "
    "with inter-order gap days and next-order pointer — the sequence-feature "
    "extraction shape (one shuffle on the partition key, single sort reused "
    "by all three window functions).",
    tags=("window", "temporal"),
)
def customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rk"),
        F.datediff(d, F.lag(d).over(w)).cast("int").alias("gap_days"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


# revenue_by_nation layout gate (r12 → r14): above 1 GB of lineitem parquet
# the oc join rides a bucketed+sorted orderkey layout of both narrow sides
# (zero-exchange SMJ; bench/REVENUE_FLOOR_x256_r12.json). Since r14 the
# decision lives in the SHARED advisor (plans.scale.layout_advise /
# _BUCKET_LAYOUT_GATE_BYTES — monkeypatch that to force the branch).


@_register(
    "revenue_by_nation",
    """
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_lineitems
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
    doc="TPC-H Q5 shape: local-supplier revenue by nation — the canonical star "
    "join. Plan discipline: the FACT table (lineitem) always STREAMS — it is "
    "never the build side of any join, and EVERY selective predicate reaches "
    "it before the first exchange: region=ASIA through the customer side "
    "(orderkey→nationkey map) AND through the supplier side (lineitem ⋈ "
    "broadcast ASIA-suppliers cuts the fact ~5x and projects it to 3 narrow "
    "columns up front — the r11 lever that took 256x from 9.4x to 2.3x of "
    "DuckDB). Below the gate the narrow order map broadcasts and the only "
    "shuffle is the 5-row final aggregate; above it both narrow sides meet "
    "in a shuffled hash join (the measured winner over map-broadcast and "
    "fact-preaggregation variants, bench/REVENUE_VARIANTS_x256_r11.json). "
    "The invariant that survives 100 TB is lineitem-on-the-stream-side.",
    tags=("join", "star", "aggregate"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    # r6: push EVERY selective predicate into the fact-fact build side before
    # lineitem ever joins. region=ASIA reaches customers through the nation
    # dim (broadcast⋈broadcast — tiny), so the build side is not "orders" but
    # "orders from ASIA customers since 1996" — ~10× smaller at every scale
    # (the r4 16× probe's oc was unfiltered; at the 64× probe the unfiltered
    # shuffle-hash build cost 8.4 s vs DuckDB 0.25, which exploits exactly
    # these filters). n_name rides the build side, removing the post-join
    # nation lookup.
    asia_nat = nat.join(
        F.broadcast(reg.where(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    cust_asia = cust.join(
        F.broadcast(asia_nat.select("n_nationkey")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "c_nationkey")
    # NARROW order map: (o_orderkey, c_nationkey) only — n_name is re-joined
    # onto the 5-row aggregate at the end, so the map that has to reach every
    # lineitem partition is 12 bytes/row, not a string-carrying struct.
    oc = orders.join(
        F.broadcast(cust_asia), F.col("c_custkey") == F.col("o_custkey")
    ).select("o_orderkey", "c_nationkey")
    # r11 (VERDICT r10 item 5 — 9.4× vs DuckDB at 256×): push the OTHER
    # selective predicate into the fact side too. s_nationkey must equal the
    # (ASIA) customer nation, so only ASIA suppliers can ever match: joining
    # lineitem to broadcast(ASIA suppliers) FIRST cuts the fact ~5× and
    # projects it to 3 narrow columns before any exchange — the single
    # biggest lever at scale, and exactly the reduction DuckDB's planner got
    # from evaluating the dimension filters first.
    supp_asia = supp.join(
        F.broadcast(asia_nat.select("n_nationkey")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey")
    li_asia = li.join(
        F.broadcast(supp_asia), F.col("l_suppkey") == F.col("s_suppkey")
    ).select(
        "l_orderkey",
        "s_nationkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("__rev"),
    )
    # Broadcast decision on the FILTERED build side's actual cardinality,
    # not the raw file size (which can't see predicate selectivity; this
    # session runs AQE off — compact-mode choice — so no runtime
    # promotion). Below 16 MB of orders the static plan broadcasts without
    # any job; above it, one cached count of oc (the repo's collect-gate
    # pattern) decides: ≲2 M filtered NARROW rows broadcast — lineitem
    # never shuffles — else both narrow sides meet in a shuffled hash
    # join. The r11 256x variant probe (bench/REVENUE_VARIANTS_x256_r11)
    # measured the alternatives: broadcasting the 4.2 M-row map costs more
    # than the shuffle it saves (9.7 s vs 2.5 s), and pre-aggregating the
    # fact per (orderkey, nation) adds an exchange that outweighs its ~2x
    # row cut (3.5 s) — the winning shape is the prefiltered narrow
    # shuffle, 2.3x DuckDB (was 9.4x in r10). The
    # lineitem-streams-and-never-builds invariant holds in every regime.
    import os as _os

    from duckdb_ml_spark.tables import table_size_bytes

    # dir-aware sizes: derived tables can be DIRECTORIES of parquet parts,
    # and getsize on a directory (~4 KB) silently disabled the layout gate
    _osz = table_size_bytes(sf_dir, "orders")
    _lsz = table_size_bytes(sf_dir, "lineitem")
    # r12 (VERDICT r11 item 4 — the last lever): ABOVE the 1 GB lineitem
    # layout gate, amortize the oc⋈li_asia shuffle away entirely with a
    # bucketed+sorted layout of BOTH narrow sides on the orderkey (the r12
    # decomposition probe, bench/REVENUE_FLOOR_x256_r12.json: full 2.57 s =
    # scan floor 0.94 + shuffle residual 1.70; the bucket-aligned join runs
    # with ZERO exchanges and lands at 1.13 s — 1.29× DuckDB, was 2.95×).
    # The nation equality is applied as a post-join filter; Catalyst folds
    # it back into the join keys, which the session's subset-co-partitioning
    # config (session.py) accepts against the orderkey buckets. The one-time
    # bucketed write re-registers from disk across sessions (bucketed_table).
    # sf0.1 lineitem is ~70 MB — far below the gate; the driver-gate plan and
    # hash are unchanged. r14 (VERDICT r13 item 5): the decision routes
    # through the shared layout advisor (same 1 GB gate + the hot-key check
    # the inline form skipped — bucketing would NOT mitigate a hot orderkey,
    # so 'salted' keeps the shuffle path); verdicts memoize per cache_key.
    from duckdb_ml_spark.plans.scale import layout_advise

    _advice = layout_advise(
        li,
        "l_orderkey",
        workload="join",
        table_bytes=_lsz,
        cache_key=(sf_dir, "lineitem", "rowcount"),
    )
    if _advice["layout"] == "bucketed":
        from duckdb_ml_spark.sources.readers import bucketed_table, parquet_num_rows

        # row-aware bucket count (~4M li_asia rows per bucket; ASIA suppliers
        # keep ~1/5 of lineitem, so /20M of raw rows) — bytes-based sizing
        # misjudges by compression ratio, see the skew-join comment in
        # plans/scale.py. Sources lists carry EVERY table each cached side
        # derives from (r12 review: a regenerated supplier/customer must
        # invalidate the pre-filtered layouts, not just lineitem/orders).
        nb = max(32, min(1024, parquet_num_rows(
            _os.path.join(sf_dir, "lineitem.parquet")) // 20_000_000))
        tl = bucketed_table(
            spark, sf_dir, li_asia, "l_orderkey", "bkt_rev_li", nb,
            ["lineitem", "supplier", "nation", "region"], params="asia",
        )
        to = bucketed_table(
            spark, sf_dir, oc, "o_orderkey", "bkt_rev_oc", nb,
            ["orders", "customer", "nation", "region"], params="asia_ge1996-01-01",
        )
        matched = (
            spark.table(tl)
            .join(spark.table(to), F.col("l_orderkey") == F.col("o_orderkey"))
            .where(F.col("c_nationkey") == F.col("s_nationkey"))
        )
        agg = matched.groupBy("s_nationkey").agg(
            F.sum("__rev").alias("__rev_sum"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
        return (
            agg.join(
                F.broadcast(asia_nat), F.col("s_nationkey") == F.col("n_nationkey")
            )
            .select(
                "n_name",
                F.round(F.col("__rev_sum"), 2).alias("revenue"),
                "n_lineitems",
            )
        )
    if _osz < (16 << 20):
        broadcast_oc = True
    else:
        from duckdb_ml_spark.operators.dedup import _cached_count

        n_oc = _cached_count(oc, (sf_dir, "revenue_by_nation", "oc_filtered"))
        broadcast_oc = n_oc < 2_000_000
    on = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("c_nationkey") == F.col("s_nationkey")
    )
    oc_side = F.broadcast(oc) if broadcast_oc else oc.hint("shuffle_hash")
    matched = li_asia.join(oc_side, on)
    agg = matched.groupBy("s_nationkey").agg(
        F.sum("__rev").alias("__rev_sum"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )
    return (
        agg.join(
            F.broadcast(asia_nat), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .select(
            "n_name",
            F.round(F.col("__rev_sum"), 2).alias("revenue"),
            "n_lineitems",
        )
    )


@_register(
    "orders_rank_metrics",
    """
    SELECT o_orderkey, o_orderpriority,
           ntile(4)              OVER w AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Distribution-rank window suite: ntile/percent_rank/cume_dist. The "
    "o_orderkey tiebreak makes the order TOTAL (ntile splits tied rows by "
    "physical order — ambiguous sorts are nondeterministic on BOTH engines), "
    "which also means rank == row_number, so all three functions are pure "
    "functions of (rn, n) and ride keyed_global_rank's size-gated two-pass "
    "range-bucket rank above RANK_WINDOW_GATE instead of sorting each of the "
    "5 priority partitions on ONE task (r11 same-window 256× probe: 26.84 → "
    "10.08 s, bench/RANKMETRICS_x256_r11.json — 38M orders / 5 single-task "
    "sorts before; ntile reconstructed with exact BIGINT div arithmetic, "
    "orderstats.ntile_from_rank; pytest-equivalent to the single-window twin "
    "on both gate sides).",
    tags=("window", "rank"),
)
def orders_rank_metrics(
    spark: SparkSession, sf_dir: str, mode: str = "auto"
) -> DataFrame:
    from duckdb_ml_spark.plans.orderstats import keyed_global_rank, ntile_from_rank

    orders = load(spark, sf_dir, "orders")
    ranked = keyed_global_rank(
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        key="o_orderpriority",
        value_col="o_totalprice",
        tiebreak_col="o_orderkey",
        cache_key=(sf_dir, "orders", "o_totalprice"),
        mode=mode,
    )
    rn, n = F.col("__rn"), F.col("__n")
    return ranked.select(
        "o_orderkey",
        "o_orderpriority",
        ntile_from_rank(4).alias("price_quartile"),
        F.round(
            F.when(n > 1, (rn - 1).cast("double") / (n - 1)).otherwise(F.lit(0.0)), 6
        ).alias("pct_rank"),
        F.round(rn.cast("double") / n, 6).alias("cume"),
    )


def orders_rank_metrics_single_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference single-window form (the pre-r11 plan): pytest equivalence
    anchor for the two-pass rank — identical output, anti-scale plan."""
    from pyspark.sql.window import Window

    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@_register(
    "unpivot_part_measures",
    """
    WITH u AS (
        SELECT p_brand, 'p_size' AS measure, p_size::DOUBLE AS value FROM part
        UNION ALL
        SELECT p_brand, 'p_retailprice' AS measure, p_retailprice AS value FROM part
    )
    SELECT p_brand, measure,
           count(*)             AS n,
           round(avg(value), 6) AS avg_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM u
    GROUP BY p_brand, measure
    """,
    doc="UNPIVOT (wide→long melt) + per-measure rollup: DataFrame.unpivot emits "
    "an Expand node — each input row fans out to one row per value column "
    "WITHOUT materializing the long form to storage or shuffling it; the "
    "aggregate's map-side partials consume the expansion in the same stage. "
    "The oracle spells it UNION ALL (DuckDB's UNPIVOT normalizes to the same).",
    tags=("unpivot", "aggregate"),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    long = part.withColumn("p_size", F.col("p_size").cast("double")).unpivot(
        ids=["p_brand"],
        values=["p_size", "p_retailprice"],
        variableColumnName="measure",
        valueColumnName="value",
    )
    return long.groupBy("p_brand", "measure").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


@_register(
    "customers_above_nation_avg",
    """
    WITH a AS (
        SELECT c_nationkey, round(avg(c_acctbal), 6) AS nation_avg
        FROM customer GROUP BY c_nationkey
    )
    SELECT c_custkey, c_name, c_acctbal, nation_avg
    FROM customer JOIN a USING (c_nationkey)
    WHERE c_acctbal > nation_avg
    """,
    doc="Correlated scalar subquery (customers above their nation's average "
    "balance), written as its decorrelated plan — aggregate once per group, "
    "broadcast the 25-row threshold table back, filter. This IS what both "
    "Catalyst and DuckDB rewrite `WHERE c_acctbal > (SELECT avg(..) .. WHERE "
    "c2.c_nationkey = c.c_nationkey)` into; spelling it directly keeps the "
    "per-group threshold computed ONCE (not per probe row) and makes the join "
    "broadcast — zero extra shuffles beyond the one groupBy. Threshold rounded "
    "to 6dp on both sides so the row-membership boundary is engine-stable.",
    tags=("subquery", "join", "aggregate"),
)
def customers_above_nation_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    thresholds = cust.groupBy("c_nationkey").agg(
        F.round(F.avg("c_acctbal"), 6).alias("nation_avg")
    )
    return (
        cust.join(F.broadcast(thresholds), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg"))
        .select("c_custkey", "c_name", "c_acctbal", "nation_avg")
    )


@_register(
    "events_distinct_users_approx",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
               <= 0.05 * count(DISTINCT user_id) AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
    doc="HLL sketch distinct-count with an accuracy-band invariant. Spark's "
    "HLL++ and DuckDB's HLL give different raw estimates (different sketches/"
    "seeds), so the hash-checked contract is the property both engines "
    "guarantee with margin: estimate within 5% of exact. The Spark sketch "
    "runs at rsd=0.01 so the band is a ≥5σ contract — at the old default "
    "rsd=0.05 the 5% band was a ~1σ coin flip, and it landed OUTSIDE at "
    "sf0.1's 1500-distinct groups (r13 gate finding); DuckDB's fixed HLL "
    "error (~1.6%) sits at ~3σ. The sketch is the 100 TB path — fixed-size "
    "(~11 KB/group at rsd 0.01), mergeable map-side partials vs "
    "count(DISTINCT)'s full shuffle of distinct values; both are computed "
    "here so the band is verified against ground truth per group.",
    tags=("aggregate", "approx", "sketch", "events"),
)
def events_distinct_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dedup-first shape (r13): count_distinct + a big-state HLL in ONE agg
    # plans through Expand (input duplicated per aggregate group, each copy
    # updating 11 KB sketch state — 5.4 s at 64×); de-duplicating
    # (event_type, user_id) first collapses the input to |types|·|users|
    # rows, after which the exact count is a count(*) and the sketch runs
    # over the support set (HLL of a multiset == HLL of its support) —
    # 0.46 s at 64×, one scan, the pair-dedup exchange bounded by the
    # distinct-pair count. Production sketching at 100 TB uses the sketch
    # ALONE (map-side partials, no dedup shuffle); this query carries the
    # exact side only to VERIFY the band against ground truth.
    ev = load(spark, sf_dir, "events")
    dd = ev.groupBy("event_type", "user_id").agg(F.lit(1))
    # count(user_id), not count(*): on the deduped pair set a NULL user_id
    # survives as its own row, and count(*) would tally it as a distinct
    # user while the oracle's count(DISTINCT user_id) — and Spark's own
    # approx_count_distinct — ignore NULLs (ADVICE r13). count(col) skips
    # NULLs, and grouping the pair-dedup on event_type (not a pre-filter)
    # keeps all-NULL event types in the output with exact_users = 0,
    # matching the oracle's GROUP BY.
    exact = F.count("user_id")
    approx = F.approx_count_distinct("user_id", 0.01)
    return dd.groupBy("event_type").agg(
        exact.alias("exact_users"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


@_register(
    "events_hll_sketch_only",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
               <= 0.05 * count(DISTINCT user_id) AS approx_within_5pct
    FROM events
    GROUP BY event_type
    """,
    doc="The PRODUCTION HLL plan, benched (VERDICT r14 item 3): the sketch "
    "branch is approx_count_distinct(rsd 0.01) straight over RAW events — "
    "map-side partial sketches merged through ONE exchange of ~11 KB "
    "states per group, no pair-dedup shuffle, the plan a 100 TB distinct "
    "count actually runs. events_distinct_users_approx verifies the band "
    "on the dedup-first shape; this row verifies the same ≥5σ band with "
    "the sketch computed on the production path (HLL of a multiset == HLL "
    "of its support, so the estimate and band are identical), carrying the "
    "dedup-first exact count on a separate branch purely as ground truth. "
    "bench/HLL_SKETCH_x{64,256,2048}_r15.json times the sketch branch "
    "ALONE: 1.42/1.82/3.58 s at 64×/256×/2048× (6.4M→204.8M events — near "
    "FLAT, one exchange of fixed-size state, the 100 TB structure), ratio "
    "vs DuckDB 49×→22×→7.1× (floor amortizes). Named bound: Spark's "
    "string-keyed HashAggregate constant (group_count alone is 1.0 s at "
    "2048×) plus a 1.4× rsd-0.01 premium over the default rsd 0.05 — the "
    "band precision is a verification artifact, production would run "
    "rsd 0.05 at ~group-count cost.",
    tags=("aggregate", "approx", "sketch", "events"),
)
def events_hll_sketch_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # production branch: partial HLL sketches map-side over raw rows
    sk = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("__est")
    ).alias("sk")
    # verification branch: exact distinct via pair-dedup (count(col) skips
    # NULL user_ids; NULL event_type survives as its own group)
    ex = (
        ev.groupBy("event_type", "user_id")
        .agg(F.lit(1))
        .groupBy("event_type")
        .agg(F.count("user_id").alias("exact_users"))
    ).alias("ex")
    j = sk.join(
        ex, F.col("sk.event_type").eqNullSafe(F.col("ex.event_type")), "inner"
    )
    return j.select(
        F.col("ex.event_type"),
        F.col("exact_users"),
        (F.abs(F.col("__est") - F.col("exact_users")) <= 0.05 * F.col("exact_users")).alias(
            "approx_within_5pct"
        ),
    )
