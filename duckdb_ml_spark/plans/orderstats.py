"""Distributed exact order statistics — two-pass range-bucket rank/quantile.

The scale problem (VERDICT r4 items 2/4/7): a window `PARTITION BY key` with
~5 distinct keys sorts each partition on ONE task, and an exact per-group
percentile materializes each group in ONE pandas kernel — both are straggler
walls at 100 TB. The classic distributed fix is two passes over the data:

  pass 0 (tiny, once per (dataset, column)): global approx-quantile RANGE
    BOUNDS → B value buckets. Any monotone bucketing yields identical final
    answers (bounds only steer parallelism), so sketch nondeterminism is
    harmless and the bounds are a cacheable dataset artifact, like the IVF
    centroid table.
  pass 1: bucket counts per (key, bucket) — a shuffle whose OUTPUT is K×B
    rows; per-key bucket offsets and totals fall out of a window over that
    tiny relation (never over the facts).
  pass 2: rank WITHIN (key, bucket) — K×B-way parallel window over ~n/B-row
    partitions — plus the broadcast offsets gives the exact global rank; for
    quantiles, only the buckets containing the target order statistics are
    even scanned (semi-join prune: reads ~|probs|/B of the data after the
    filter).

Exactness: bucketing is `count(bounds <= x)`, so equal values share a bucket
and `bucket(x1) <= bucket(x2)` whenever `x1 < x2`; a partition-local
row_number plus the bucket's cumulative offset IS the global rank, and the
value at any global position is unique even when row_number breaks value
ties arbitrarily. Interpolation matches DuckDB quantile_cont BITWISE:
h = p·(n-1), v = v_floor·(1−frac) + v_ceil·frac (the symmetric form —
see quantile_cont_sorted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_ml_spark.memo import memo

# 64 range buckets: pass-2 of the exact-quantile form scans ~|needed|/B of
# the data, so doubling B halves the pruned scan (measured 2.8 s → 2.15 s at
# the 16× probe); the binary-search bucket_expr keeps per-row cost at
# ⌈log2 B⌉ = 6 comparisons, and the bounds sketch/collect stays trivial.
DEFAULT_BUCKETS = 64


def value_range_bounds(
    df: DataFrame, value_col: str, n_buckets: int = DEFAULT_BUCKETS, cache_key=None
) -> list:
    """Global approx-quantile bucket bounds for `value_col` (one tiny job:
    fixed-size GK sketch, map-side partials, (B-1)-element collect).

    With a cache_key the bounds are a memoized dataset artifact: at 100 TB
    they are computed once per table/column and persisted next to the data
    (like the signatures / the IVF centroid table). Builders that may
    trigger the cold collect are listed in __spark_entry__._EXEC_AT_BUILD.
    Keyed on n_buckets too (ADVICE r5): two callers sharing a cache_key at
    different granularities must not silently share bounds."""

    def sketch() -> list:
        probs = ", ".join(f"{i / n_buckets}D" for i in range(1, n_buckets))
        row = df.select(
            F.expr(f"approx_percentile({value_col}, array({probs}), 10000)").alias("b")
        ).head()
        # dedupe: heavy value skew can repeat a bound; duplicates would create
        # empty buckets (harmless) but cost extra codegen comparisons
        return sorted(set(row["b"] or []))

    return memo(df.sparkSession, (cache_key, "bounds", n_buckets), sketch)


def quantile_cont_sorted(v, probs) -> list:
    """Exact quantile_cont over an ASCENDING-sorted array: h = p·(n−1),
    v_f·(1−frac) + v_c·frac — the SYMMETRIC interpolation DuckDB's
    Interpolator runs (empirically bitwise-verified against quantile_cont in
    tests/test_relational.py::test_quantile_cont_sorted_matches_duckdb; the
    one-sided lerp v_f + frac·(v_c−v_f) differs by 1 ulp on ~a third of
    inputs). np.percentile is deliberately not used here (ADVICE r5 high):
    its pct·100/100 round-trip (0.95·100 == 94.99999999999999) and its own
    lerp variant differ by ulps, enough to flip threshold comparisons /
    rounded outputs downstream."""
    import math

    n = len(v)
    out = []
    for p in probs:
        h = p * (n - 1)
        f = math.floor(h)
        frac = h - f
        c = math.ceil(h)
        out.append(float(v[f]) * (1 - frac) + float(v[c]) * frac)
    return out


def bucket_expr(x, bounds):
    """Bucket id = count(bounds <= x), evaluated as a BINARY-SEARCH tree of
    nested conditionals — ⌈log2 B⌉ comparisons per row instead of the B-1
    comparison chain (r6: the chain cost ~0.7 s of the 16× probe's pass-1
    scan; the tree is ~5× fewer branch evaluations and still whole-stage
    codegen — no HOF lambda, per the repo invariant). Semantics identical:
    x >= bounds[m] ⟺ bucket > m, equal values share a bucket."""
    if not bounds:
        return F.lit(0)

    def rec(lo: int, hi: int):
        # candidate bucket ids in [lo, hi]; bounds[m] splits at m|m+1
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(x >= F.lit(float(bounds[mid])), rec(mid + 1, hi)).otherwise(
            rec(lo, mid)
        )

    return rec(0, len(bounds)).cast("int")


def bucket_of(v: float, bounds: list) -> int:
    """Driver-side twin of bucket_expr: bucket id = count(bounds <= v) =
    bisect_right. ANY value classified driver-side (e.g. an interpolated
    quantile) MUST go through this, never an ad-hoc comparison loop — the
    decomposed winsorized correctness argument depends on the driver and
    the executors agreeing on the comparator (pytest-pinned equal to
    bucket_expr in test_relational)."""
    import bisect

    return bisect.bisect_right(bounds, v)


def _bucket_offsets(t: DataFrame, key: str):
    """(key, __b, __c, __off, __n) from the bucketed relation `t` — the tiny
    pass-1 aggregate plus per-key exclusive offsets and totals."""
    counts = t.groupBy(key, "__b").agg(F.count(F.lit(1)).alias("__c"))
    wo = Window.partitionBy(key).orderBy("__b")
    return counts.select(
        key,
        "__b",
        "__c",
        (F.sum("__c").over(wo) - F.col("__c")).alias("__off"),
        F.sum("__c").over(Window.partitionBy(key)).alias("__n"),
    )


# Below this input row count the plain per-key window wins outright: one
# shuffle + one sort per key beats the two-pass form's extra bounds job,
# count pass, and broadcast join (measured 0.30 s vs 0.72 s at sf0.1); above
# it the single-task-per-key sort becomes the straggler wall (the two-pass
# form measured 0.96× vs DuckDB at the 16× probe — Spark ahead). Same 4 M
# rationale as QUANTILE_KERNEL_GATE: ~64 MB of doubles per key is a
# comfortable single-task working set, 10× that is not.
RANK_WINDOW_GATE = 4_000_000


def keyed_global_rank(
    df: DataFrame,
    key: str,
    value_col: str,
    tiebreak_col: str,
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
    mode: str = "auto",
) -> DataFrame:
    """df + (__rn 1-based global rank per key under ORDER BY (value, tiebreak),
    __n per-key total) without ever sorting a whole key on one task.

    Requires a unique `tiebreak_col` (total order → rank == row_number and
    cume_dist's peer count == row number, which is what the distribution
    functions need) and NON-NULL (value, tiebreak) columns: NULL has no
    position in a total order, and the engines disagree on where it sorts
    (Spark windows NULLS FIRST, DuckDB NULLS LAST) — a caller with NULLs
    must decide their rank explicitly before calling.

    mode='auto' (VERDICT r5 item 3) mirrors quantiles_wide's size gate:
    below RANK_WINDOW_GATE input rows the plain per-key window runs (cheaper
    by construction — no bounds job, no count pass, no join); above it the
    two-pass range-bucket form. 'two_pass' / 'window' force a side
    (pytest equivalence: tests/test_relational.py::
    test_two_pass_rank_equals_single_window)."""
    if mode == "auto":
        from duckdb_ml_spark.operators.dedup import _cached_count

        n = _cached_count(df, cache_key)
        mode = "window" if n <= RANK_WINDOW_GATE else "two_pass"
    if mode == "window":
        w = Window.partitionBy(key).orderBy(value_col, tiebreak_col)
        return df.withColumn("__rn", F.row_number().over(w)).withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy(key))
        )
    bounds = value_range_bounds(df, value_col, n_buckets, cache_key=cache_key)
    t = df.withColumn("__b", bucket_expr(F.col(value_col), bounds))
    offs = _bucket_offsets(t.select(key, "__b"), key)
    wl = Window.partitionBy(key, "__b").orderBy(value_col, tiebreak_col)
    ranked = t.withColumn("__lr", F.row_number().over(wl))
    return (
        ranked.join(F.broadcast(offs.drop("__c")), [key, "__b"])
        .withColumn("__rn", F.col("__off") + F.col("__lr"))
        .drop("__b", "__lr", "__off")
    )


def ntile_from_rank(tiles: int, rn_col: str = "__rn", n_col: str = "__n"):
    """SQL NTILE(tiles) reconstructed from a 1-based UNIQUE rank and the
    per-key total — lets ntile ride `keyed_global_rank`'s two-pass rank
    instead of a per-key single-task window sort.

    Both engines implement the standard tile rule (Spark
    catalyst.expressions.NTile, DuckDB ntile): q = n div t, r = n % t; the
    first r tiles get q+1 rows, the rest get q. With a total order (unique
    tiebreak ⇒ rank == row_number) the tile of a row is a pure function of
    (rn, n) — computed here with BIGINT `div` arithmetic, exact at any
    scale (a double floor(x/y) reconstruction can misround once quotients
    pass ~2^33; integer div cannot). The q = 0 branch (n < tiles) divides
    by zero in the ELSE arm, but the WHEN arm covers all rows there
    (r == n ⇒ the first block is the whole key). Cast to INT to match the
    window NTile's output type."""
    t = int(tiles)
    rn, n = rn_col, n_col
    q = f"({n} div {t})"
    r = f"({n} % {t})"
    first_block = f"({r} * ({q} + 1))"
    return F.expr(
        f"CASE WHEN {rn} <= {first_block} "
        f"THEN ({rn} - 1) div ({q} + 1) + 1 "
        f"ELSE {r} + (({rn} - 1) - {first_block}) div {q} + 1 END"
    ).cast("int")


def keyed_prefix_sum(
    df: DataFrame,
    key: str,
    order_col: str,
    value_col: str,
    out_col: str = "__start",
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
    mode: str = "auto",
) -> DataFrame:
    """df + `out_col` = EXCLUSIVE running sum of `value_col` per `key` in
    `order_col` order — the distributed prefix-sum primitive (token-shard
    splitting, byte-offset assignment, cumulative budgets).

    Requires `order_col` UNIQUE within each key (doc ids, row ids): ties
    have no defined prefix, and the ROWS frame below would make their sums
    order-dependent.

    mode='auto' mirrors keyed_global_rank's gate: below RANK_WINDOW_GATE
    input rows a plain per-key running-sum window (one task per key — fine
    small, straggler wall at 100 TB); above it the two-pass range-bucket
    form, ALL lazy (no driver collect beyond the cached bounds sketch):
      pass 1: per-(key, bucket) sums — a K×B-row relation; exclusive bucket
        offsets fall out of a window over THAT tiny relation, never facts.
      pass 2: exclusive running sum WITHIN (key, bucket) — K×B-way parallel
        windows over ~n/B-row partitions — plus the broadcast bucket offset
        is the exact global prefix.
    Exactness does not depend on bounds quality (bounds only steer
    parallelism), same argument as keyed_global_rank."""
    if mode == "auto":
        from duckdb_ml_spark.operators.dedup import _cached_count

        n = _cached_count(df, cache_key)
        mode = "window" if n <= RANK_WINDOW_GATE else "two_pass"
    excl = Window.unboundedPreceding, -1
    if mode == "window":
        w = Window.partitionBy(key).orderBy(order_col).rowsBetween(*excl)
        return df.withColumn(
            out_col, F.coalesce(F.sum(value_col).over(w), F.lit(0))
        )
    bounds = value_range_bounds(df, order_col, n_buckets, cache_key=cache_key)
    t = df.withColumn("__pb", bucket_expr(F.col(order_col), bounds))
    sums = t.groupBy(key, "__pb").agg(F.sum(value_col).alias("__bs"))
    wo = Window.partitionBy(key).orderBy("__pb")
    offs = sums.select(
        key, "__pb", (F.sum("__bs").over(wo) - F.col("__bs")).alias("__boff")
    )
    wl = Window.partitionBy(key, "__pb").orderBy(order_col).rowsBetween(*excl)
    return (
        t.withColumn("__lcs", F.coalesce(F.sum(value_col).over(wl), F.lit(0)))
        .join(F.broadcast(offs), [key, "__pb"])
        .withColumn(out_col, F.col("__boff") + F.col("__lcs"))
        .drop("__pb", "__lcs", "__boff")
    )


# Max (key × bucket) cells the exact-quantile pass-1 aggregate may collect
# driver-side. K·B rows of three scalars — 65 536 cells ≈ 2 MB, the repo's
# standard bounded-collect gate (same contract as the LSH signature and
# union-find edge collects); a group-quantile query over MORE distinct keys
# than this falls back to the all-lazy semi-join plan below.
CELL_COLLECT_GATE = 65536


def _cell_layout(cells):
    """Driver-side layout from collected (key, __b, __c) rows:
    {key: (sorted_buckets, {bucket: exclusive_offset}, n)}."""
    by_key: dict = {}
    for r in cells:
        by_key.setdefault(r[0], {})[r[1]] = r[2]
    out = {}
    for k, bmap in by_key.items():
        bs = sorted(bmap)
        offs, n = {}, 0
        for b in bs:
            offs[b] = n
            n += bmap[b]
        out[k] = (bs, offs, n)
    return out


def _locate(bs, offs, pos):
    """(bucket, 0-based local position) of global 0-based `pos` via the
    driver-side layout: rightmost bucket whose exclusive offset <= pos
    (binary search over ≤B buckets)."""
    keys = bs
    lo, hi = 0, len(keys) - 1
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if offs[keys[mid]] <= pos:
            lo = mid
        else:
            hi = mid - 1
    b = keys[lo]
    return b, pos - offs[b]


def bucket_range_filter(value_col: str, bounds: list, needed_buckets) -> "F.Column":
    """Predicate selecting exactly the rows of the needed buckets, expressed
    as VALUE-RANGE comparisons (bucket b = [bounds[b-1], bounds[b]), open at
    the ends) with consecutive buckets merged into one interval. Unlike a
    bucket-id semi-join this is a plain comparison conjunction Catalyst
    pushes into the parquet scan (PushedFilters → row-group min/max
    pruning): at 100 TB on clustered data pass 2 is a partial READ, not a
    full scan + filter."""
    ids = sorted(set(needed_buckets))
    runs: list = []
    for b in ids:
        if runs and b == runs[-1][1] + 1:
            runs[-1][1] = b
        else:
            runs.append([b, b])
    conds = []
    for lo_b, hi_b in runs:
        parts = []
        if lo_b > 0:
            parts.append(F.col(value_col) >= F.lit(float(bounds[lo_b - 1])))
        if hi_b < len(bounds):
            parts.append(F.col(value_col) < F.lit(float(bounds[hi_b])))
        cond = parts[0] if parts else F.lit(True)
        for p in parts[1:]:
            cond = cond & p
        conds.append(cond)
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def exact_group_quantiles(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: list,
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
    cells=None,
    bounds=None,
) -> DataFrame:
    """(key, __p, __q): EXACT quantile_cont values per key, distributed —
    r6 collect-based two-scan form (VERDICT r5 item 2: the all-lazy r5 plan
    paid 3-4 full passes + ~8 stages; measured 2.7-3.1 s at the 16× probe
    even with the bucketed projection persisted, because every pass still
    re-read 9.6 M cached rows).

    pass 1: groupBy(key, bucket).count — map-side combine, K×B-row result,
      collected driver-side (bounded by CELL_COLLECT_GATE; above it the
      all-lazy exact_group_quantiles_lazy fallback runs instead).
    driver: per-key offsets → target order-statistic positions → the ≤
      K·|probs|·2 (bucket, local_position) cells that hold them.
    pass 2: re-scan ONLY those buckets via a pushed VALUE-RANGE filter
      (bucket_range_filter — parquet row-group pruning, no cache, no
      semi-join), tiny per-cell row_number window, broadcast join against
      the literal need table, symmetric interpolation.

    No task ever holds a whole key group; the only driver state is K×B
    counts — the same bounded-collect contract as the LSH/union-find gates.

    Known skew limit (applies equally to the lazy fallback): equal values
    must share a bucket for exactness, so a distribution where ONE value is
    a large fraction of a key collapses that fraction into a single
    (key, bucket) window partition. If that ever bites, the tie block needs
    no sort at all — any local position inside it yields the same value —
    so the fix is a count-only shortcut for mono-value buckets, not a finer
    bucketing."""
    spark = df.sparkSession
    # quantile_cont IGNORES NULLs (SQL aggregate semantics) — drop them
    # before anything counts rows. Without this the when/otherwise bucket
    # tree would route NULL comparisons to bucket 0, inflating pass-1 counts
    # while the pass-2 range filter excludes them — shifting every target
    # position (review r6 finding, reproduced: median 40.5 vs DuckDB 50.5 on
    # a 20%-NULL column).
    df = df.where(F.col(value_col).isNotNull())
    if (cells is None) != (bounds is None):
        # cells are only meaningful under the bounds that produced them —
        # recomputing bounds here (a fresh approx_percentile sketch, which
        # need not reproduce under cache_key=None) would silently misplace
        # every target position (review r6b). All or nothing.
        raise ValueError("pass `cells` and `bounds` together or neither")
    if bounds is None:
        bounds = value_range_bounds(df, value_col, n_buckets, cache_key=cache_key)
    bexpr = bucket_expr(F.col(value_col), bounds)
    if cells is None:
        cells = (
            df.select(key, value_col)
            .groupBy(key, bexpr.alias("__b"))
            .agg(F.count(F.lit(1)).alias("__c"))
            .limit(CELL_COLLECT_GATE + 1)
            .collect()
        )
    if len(cells) > CELL_COLLECT_GATE:
        return exact_group_quantiles_lazy(
            df, key, value_col, probs, n_buckets=n_buckets, cache_key=cache_key
        )
    import math

    key_t = dict(df.dtypes)[key]  # mirror the input key type, don't assume string
    layout = _cell_layout(cells)
    if not layout:  # empty input: empty result, stable schema
        return spark.createDataFrame([], f"{key} {key_t}, __p double, __q double")
    need_rows = []
    needed_buckets = set()
    for k, (bs, offs, n) in layout.items():
        for p in probs:
            h = p * (n - 1)
            frac = h - math.floor(h)
            for kind, pos in (("f", math.floor(h)), ("c", math.ceil(h))):
                b, lp = _locate(bs, offs, pos)
                need_rows.append((k, int(b), int(lp) + 1, float(p), kind, float(frac)))
                needed_buckets.add(int(b))
    need_df = spark.createDataFrame(
        need_rows,
        f"{key} {key_t}, __b int, __lpos int, __p double, __k string, __frac double",
    )
    pruned = (
        df.select(key, value_col)
        .where(bucket_range_filter(value_col, bounds, needed_buckets))
        .withColumn("__b", bexpr)
    )
    wl = Window.partitionBy(key, "__b").orderBy(value_col)
    ranked = pruned.withColumn("__lr", F.row_number().over(wl))
    vals = ranked.join(
        F.broadcast(need_df),
        on=[
            ranked[key] == need_df[key],
            ranked["__b"] == need_df["__b"],
            F.col("__lr") == F.col("__lpos"),
        ],
    ).select(
        ranked[key].alias(key), "__p", "__frac", "__k", F.col(value_col).alias("__v")
    )
    iv = vals.groupBy(key, "__p").agg(
        F.max(F.when(F.col("__k") == "f", F.col("__v"))).alias("__vf"),
        F.max(F.when(F.col("__k") == "c", F.col("__v"))).alias("__vc"),
        F.max("__frac").alias("__fr"),
    )
    # symmetric interpolation — bitwise-identical to DuckDB's Interpolator
    # and to quantile_cont_sorted (the one-sided lerp is 1 ulp off; see
    # quantile_cont_sorted's docstring)
    return iv.select(
        key,
        "__p",
        (
            F.col("__vf") * (F.lit(1.0) - F.col("__fr")) + F.col("__vc") * F.col("__fr")
        ).alias("__q"),
    )


def exact_group_quantiles_lazy(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: list,
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
) -> DataFrame:
    """All-lazy fallback (no driver collect beyond the cached bounds): the
    r5 semi-join plan, kept for key cardinalities above CELL_COLLECT_GATE
    where pass-1 cells don't fit a driver collect. Same output, same
    interpolation; pytest-equivalence in test_relational."""
    df = df.where(F.col(value_col).isNotNull())  # quantile_cont ignores NULLs
    bounds = value_range_bounds(df, value_col, n_buckets, cache_key=cache_key)
    t = df.select(key, value_col).withColumn(
        "__b", bucket_expr(F.col(value_col), bounds)
    )
    offs = _bucket_offsets(t.select(key, "__b"), key)

    # target 0-based global positions per (key, prob): h = p·(n-1); the
    # literal-array explode runs over the K-row totals relation, not facts
    totals = offs.select(key, "__n").distinct()
    pr = totals.select(
        key, "__n", F.explode(F.array(*[F.lit(float(p)) for p in probs])).alias("__p")
    ).withColumn("__h", F.col("__p") * (F.col("__n") - 1))
    pos = pr.select(
        key,
        "__p",
        "__h",
        F.explode(
            F.array(
                F.struct(F.lit("f").alias("k"), F.floor("__h").cast("bigint").alias("pos")),
                F.struct(F.lit("c").alias("k"), F.ceil("__h").cast("bigint").alias("pos")),
            )
        ).alias("s"),
    ).select(key, "__p", "__h", F.col("s.k").alias("__k"), F.col("s.pos").alias("__pos"))

    # locate each position's bucket: tiny×tiny range join (K·|probs|·2 × K·B)
    need = (
        pos.join(offs, on=key)
        .where(
            (F.col("__pos") >= F.col("__off"))
            & (F.col("__pos") < F.col("__off") + F.col("__c"))
        )
        .select(
            key, "__p", "__h", "__k", "__b",
            (F.col("__pos") - F.col("__off") + 1).alias("__lpos"),
        )
    )

    # pass 2 over PRUNED buckets only
    pruned = t.join(
        F.broadcast(need.select(key, "__b").distinct()), [key, "__b"], "left_semi"
    )
    wl = Window.partitionBy(key, "__b").orderBy(value_col)
    ranked = pruned.withColumn("__lr", F.row_number().over(wl))
    vals = ranked.join(
        F.broadcast(need),
        on=[
            ranked[key] == need[key],
            ranked["__b"] == need["__b"],
            F.col("__lr") == F.col("__lpos"),
        ],
    ).select(ranked[key].alias(key), "__p", "__h", "__k", F.col(value_col).alias("__v"))

    iv = vals.groupBy(key, "__p", "__h").agg(
        F.max(F.when(F.col("__k") == "f", F.col("__v"))).alias("__vf"),
        F.max(F.when(F.col("__k") == "c", F.col("__v"))).alias("__vc"),
    )
    # symmetric interpolation — bitwise-identical to DuckDB's Interpolator
    # and to quantile_cont_sorted (the one-sided lerp is 1 ulp off; see
    # quantile_cont_sorted's docstring)
    frac = F.col("__h") - F.floor("__h")
    return iv.select(
        key,
        "__p",
        (F.col("__vf") * (F.lit(1.0) - frac) + F.col("__vc") * frac).alias("__q"),
    )


# Below this input row count the whole-group Arrow kernel wins outright.
# Measured for price_quantiles_by_flag at 9.6 M rows (forced-mode artifact
# bench/SCALEUP_x16_r6_quantile_modes.json): two-scan distributed 1.81 s vs
# kernel 2.01 s (repeatably — 2.15 vs 2.24 in an earlier window), and at
# sf0.1's 600 k rows the kernel wins ~0.3 s vs ~0.9 s — the crossover sits
# between, so the gate is 8 M. (The same artifact's 2.4 M-row pair is the
# WINSORIZED operator — see WINSORIZE_KERNEL_GATE — not plain-quantile
# evidence.) Scale safety: the kernel materializes ONE GROUP per task; 8 M
# rows ≈ 64 MB of doubles even in the degenerate one-key case — a single
# task's working set. Above the gate, groups can outgrow a task and the
# two-scan form (whose per-task working set is ~n/(K·B)) is the only shape
# that survives 100 TB.
QUANTILE_KERNEL_GATE = 8_000_000

# winsorized_stats crossover RE-MEASURED after the r8 fusion (pass-2/pass-3
# folded into one pruned per-key Arrow kernel — the r6 numbers below were
# for the 3-pass decomposed form and set the gate at 16 M): warm min-of-3
# at 2.4 M rows kernel 0.79 s vs fused-distributed 1.11 s; at 9.6 M kernel
# 2.39 s vs 1.72 s. Crossover ≈ 4-6 M; gate at 4 M errs toward the
# distributed form (the only shape that survives 100 TB — the kernel
# materializes whole key groups on single tasks).
# (r6 history: at 9.6 M kernel 2.5 s vs DECOMPOSED 3.2 s; at 38 M 13.9 s
# vs 3.4 s — the fusion moved the distributed curve down ~2×.)
WINSORIZE_KERNEL_GATE = 4_000_000


def group_quantiles_kernel(
    df: DataFrame, key: str, value_col: str, probs: list, out_names: list
) -> DataFrame:
    """Whole-group exact quantiles: one applyInPandas sort per key group,
    interpolated by quantile_cont_sorted — bitwise-identical to DuckDB and
    to the distributed form (NOT np.percentile; see quantile_cont_sorted).
    The small-input fast path — materializes each group on ONE task, so it
    is gated, never the scale form."""
    import numpy as np
    import pandas as pd

    def _pct(pdf: pd.DataFrame) -> pd.DataFrame:
        v = np.sort(pdf[value_col].to_numpy())
        p = quantile_cont_sorted(v, probs)
        return pd.DataFrame(
            {key: [pdf[key].iloc[0]], **{nm: [p[i]] for i, nm in enumerate(out_names)}}
        )

    key_t = dict(df.dtypes)[key]
    schema = f"{key} {key_t}, " + ", ".join(f"{nm} double" for nm in out_names)
    return (
        df.where(F.col(value_col).isNotNull())  # quantile_cont ignores NULLs
        .select(key, value_col)
        .groupBy(key)
        .applyInPandas(_pct, schema)
    )


def quantiles_wide(
    df: DataFrame,
    key: str,
    value_col: str,
    probs: list,
    out_names: list,
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
    mode: str = "auto",
) -> DataFrame:
    """Exact per-group quantiles, one row per key with named columns.

    mode='auto' picks by input size (the repo's standard collect-gate
    pattern, pytest-proven equivalent both sides): the whole-group Arrow
    kernel below QUANTILE_KERNEL_GATE rows, the bucket-pruned distributed
    form above it. 'distributed' / 'kernel' force a side. NOTE the VERDICT-r4
    alternative (approx_percentile bounds) was measured and rejected: a
    sketch still costs one full scan — the same as the kernel — but breaks
    the exact oracle pairing; exact-distributed keeps the hash and is the
    form that survives when a group outgrows one task."""
    if mode == "auto":
        from duckdb_ml_spark.operators.dedup import _cached_count

        n = _cached_count(df, cache_key)
        mode = "kernel" if n <= QUANTILE_KERNEL_GATE else "distributed"
    if mode == "kernel":
        return group_quantiles_kernel(df, key, value_col, probs, out_names)
    q = exact_group_quantiles(
        df, key, value_col, probs, n_buckets=n_buckets, cache_key=cache_key
    )
    aggs = [
        F.max(F.when(F.col("__p") == float(p), F.col("__q"))).alias(name)
        for p, name in zip(probs, out_names)
    ]
    return q.groupBy(key).agg(*aggs)


def ceil_pos(num: int, den: int, n: int) -> int:
    """1-based order-statistic position ⌈num·n/den⌉ in EXACT integer
    arithmetic (float p·n is unusable here: 0.05·15000 = 750.0000000000001
    rounds the position UP — the reason disc fracs are passed as int
    rationals, never floats)."""
    return -(-num * n // den)


def exact_group_order_stats_lazy(
    df: DataFrame,
    key: str,
    value_col: str,
    fracs: list,
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
) -> DataFrame:
    """(key, __i, __q): for each (num, den) in `fracs`, the ⌈num·n/den⌉-th
    smallest value per key — INTERPOLATION-FREE order statistics (the
    `quantile_disc`-style bound), all-lazy (no driver collect beyond the
    cached bounds sketch). Same two-pass range-bucket shape as
    exact_group_quantiles_lazy minus the floor/ceil pair and the frac: one
    target position per (key, frac), located in its bucket via the tiny
    offs relation, extracted by a per-(key,bucket) row_number over pruned
    buckets only. Positions are computed with SQL `div` on exact integers
    (see ceil_pos)."""
    df = df.where(F.col(value_col).isNotNull())
    bounds = value_range_bounds(df, value_col, n_buckets, cache_key=cache_key)
    t = df.select(key, value_col).withColumn(
        "__b", bucket_expr(F.col(value_col), bounds)
    )
    offs = _bucket_offsets(t.select(key, "__b"), key)
    totals = offs.select(key, "__n").distinct()
    pr = totals.select(
        key,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        # 0-based position = ⌈num·n/den⌉ − 1, integer div
                        F.expr(
                            f"(({num} * __n + {den - 1}) div {den}) - 1"
                        ).alias("pos"),
                    )
                    for i, (num, den) in enumerate(fracs)
                ]
            )
        ).alias("s"),
    ).select(key, F.col("s.i").alias("__i"), F.col("s.pos").alias("__pos"))
    need = (
        pr.join(offs, on=key)
        .where(
            (F.col("__pos") >= F.col("__off"))
            & (F.col("__pos") < F.col("__off") + F.col("__c"))
        )
        .select(key, "__i", "__b", (F.col("__pos") - F.col("__off") + 1).alias("__lpos"))
    )
    pruned = t.join(
        F.broadcast(need.select(key, "__b").distinct()), [key, "__b"], "left_semi"
    )
    wl = Window.partitionBy(key, "__b").orderBy(value_col)
    ranked = pruned.withColumn("__lr", F.row_number().over(wl))
    return ranked.join(
        F.broadcast(need),
        on=[
            ranked[key] == need[key],
            ranked["__b"] == need["__b"],
            F.col("__lr") == F.col("__lpos"),
        ],
    ).select(ranked[key].alias(key), "__i", F.col(value_col).alias("__q"))


def _pinned_means(n, sum_scaled, sum_scaled_mid, n_lo, n_hi, lo, hi, scale):
    """THE one winsorized-mean recipe (driver-side form): exact integer
    inputs (counts + fixed-point sums) + the bitwise-pinned bounds, combined
    in a FIXED left-associative IEEE order. Every mode (kernel, distributed,
    lazy Spark expression) and the DuckDB oracle SQL compute this same
    expression, so the result is bit-identical regardless of partitioning,
    summation order, or host — the r5-r7 driver-red class (a 4-dp rounding
    flip from environment-dependent float accumulation) is structurally
    impossible. Association: ((mid/s + n_lo*lo) + n_hi*hi) / n."""
    s = float(scale)
    mean_raw = sum_scaled / s / n
    mean_wins = (sum_scaled_mid / s + n_lo * lo + n_hi * hi) / n
    return mean_raw, mean_wins


def winsorized_stats(
    df: DataFrame,
    key: str,
    value_col: str,
    p_lo: float,
    p_hi: float,
    n_buckets: int = DEFAULT_BUCKETS,
    cache_key=None,
    mode: str = "auto",
    fixed_scale: int | None = None,
    disc_fracs: tuple | None = None,
) -> DataFrame:
    """(key, __n, __mean_raw, __mean_wins, __n_lo, __n_hi): per-key count,
    raw mean, mean after clipping to the [p_lo, p_hi] exact quantiles, and
    clip counts — the winsorization feature-prep aggregate, FUSED
    (VERDICT r5 item 2: the old shape ran quantiles_wide then re-scanned the
    facts for the final aggregate — 3-4 full scans).

    kernel mode (≤ QUANTILE_KERNEL_GATE rows): ONE applyInPandas computes
    bounds AND the clipped aggregate per group in the same numpy kernel —
    one file scan + one shuffle total. Bounds via quantile_cont_sorted
    (bitwise DuckDB-identical; ADVICE r5 high — np.percentile's ulp noise
    could flip clip counts / rounded means on the driver row).

    distributed mode (r6b): DECOMPOSED — pass 1 aggregates per-(key,bucket)
    counts AND sums (one full scan, bounded collect); pass 2 computes the
    exact interpolated bounds over pruned buckets; pass 3 runs per-row
    comparisons ONLY inside the single bucket containing each bound (pruned
    range scan, ~2/B of the data); counts and means assemble driver-side.
    The per-row-compare semantics survive the decomposition because the
    bound itself is classified with bucket_of — the data's own comparator —
    so every other bucket is provably wholly below or above it regardless
    of where interpolation rounding landed the bound. No task ever holds a
    whole key group; no full re-scan.

    Means are returned unrounded; callers round Spark-side (F.round ==
    DuckDB HALF_UP).

    `fixed_scale` (r8 de-flake, VERDICT r7 item 1 / ADVICE r6 medium): when
    the value column is FIXED-POINT at scale s (e.g. 100 for 2-dp money —
    every value·s is within ulps of an integer), pass s and the means become
    fully DETERMINISTIC: sums accumulate as exact int64 (order-free), and
    both means assemble via _pinned_means — one fixed IEEE expression over
    exact integers + the bitwise-pinned bounds. Without it (None), float
    sums carry ~1e-8 summation-order noise absorbed only probabilistically
    by the caller's 4-dp rounding — the mechanism behind the r5-r7
    driver-red flake on `orders_winsorized_stats`.

    NULL `value_col` rows are excluded ENTIRELY (counts included): the
    bounds must ignore them (quantile_cont semantics) and clip comparisons
    on NULL are engine-divergent, so all-over-non-null is the one
    well-defined contract.

    `disc_fracs` (r9, VERDICT r8 item 3 — round 5 of the driver-red row):
    pass ((lo_num, lo_den), (hi_num, hi_den)) to replace the INTERPOLATED
    quantile_cont bounds with interpolation-free ORDER STATISTICS — the
    ⌈num·n/den⌉-th smallest value per key (quantile_disc semantics; exact
    integer positions via ceil_pos, never float p·n). The bound is then an
    exact DATA VALUE (for 2-dp money, an exact 2-dp double) that any engine
    version reproduces bit-for-bit, removing the last environment-coupled
    float input: quantile_cont_sorted pins THIS host's DuckDB 1.0.0
    interpolation, which a different oracle-side DuckDB can shift by ulps,
    flipping n_lo/n_hi and the 4-dp means (the suspected r5-r8 red
    mechanism; canary_quantile_interp isolates the axis). p_lo/p_hi are
    ignored when disc_fracs is given."""
    df = df.where(F.col(value_col).isNotNull())
    if mode == "auto":
        from duckdb_ml_spark.operators.dedup import _cached_count

        # key discriminated from the UNFILTERED counts keyed_global_rank /
        # quantiles_wide cache (ADVICE r7 low: first caller seeded the shared
        # slot, so a NULL-bearing column could gate on the wrong row count)
        n = _cached_count(df, (cache_key, "notnull", value_col))
        mode = "kernel" if n <= WINSORIZE_KERNEL_GATE else "distributed"
    if mode == "kernel":
        import numpy as np
        import pandas as pd

        def _w(pdf: pd.DataFrame) -> pd.DataFrame:
            v = np.sort(pdf[value_col].to_numpy())
            n = len(v)
            if disc_fracs is not None:
                (ln, ld), (hn, hd) = disc_fracs
                lo = float(v[ceil_pos(ln, ld, n) - 1])
                hi = float(v[ceil_pos(hn, hd, n) - 1])
            else:
                lo, hi = quantile_cont_sorted(v, [p_lo, p_hi])
            n_lo = int((v < lo).sum())
            n_hi = int((v > hi).sum())
            if fixed_scale is None:
                mean_raw = float(v.mean())
                mean_wins = float(np.clip(v, lo, hi).mean())
            else:
                # np.rint == F.round(x*s, 0) == DuckDB round under the
                # fixed-point contract (v·s is ulp-close to an integer, so
                # every half-rounding convention agrees)
                c = np.rint(v * float(fixed_scale)).astype(np.int64)
                mid = (v >= lo) & (v <= hi)
                mean_raw, mean_wins = _pinned_means(
                    n, int(c.sum()), int(c[mid].sum()), n_lo, n_hi, lo, hi,
                    fixed_scale,
                )
            return pd.DataFrame(
                {
                    key: [pdf[key].iloc[0]],
                    "__n": [n],
                    "__mean_raw": [mean_raw],
                    "__mean_wins": [mean_wins],
                    "__n_lo": [n_lo],
                    "__n_hi": [n_hi],
                }
            )

        key_t = dict(df.dtypes)[key]
        schema = (
            f"{key} {key_t}, __n bigint, __mean_raw double, "
            "__mean_wins double, __n_lo bigint, __n_hi bigint"
        )
        return df.select(key, value_col).groupBy(key).applyInPandas(_w, schema)

    # distributed r6b: DECOMPOSED clip aggregate — one full scan total.
    # pass 1 collects per-(key,bucket) counts AND sums; pass 2 (pruned)
    # yields the exact interpolated bounds; then ONLY the single bucket
    # containing each bound needs per-row comparison (pass 3, pruned to
    # ~2/B of the data) — every other bucket is wholly below or above the
    # bound. The classification is ulp-airtight because the bound itself is
    # bucketed with the SAME `>=` comparator as the data: values in buckets
    # < bucket(p) are < p and values in buckets > bucket(p) are > p by the
    # bucketing invariant, no matter where interpolation rounding landed p.
    # Replaces the r6a shape (bounds + a FULL re-scan with broadcast-join
    # per-row clip agg — 6.9× vs DuckDB at the 256× probe; this form drops
    # the full re-scan). Integer outputs are exactly the per-row compare's;
    # means assemble from Spark partial sums driver-side (noise ~1e-8 on
    # these magnitudes, absorbed by the caller's 4-dp rounding like every
    # aggregate mean in the repo).
    spark = df.sparkSession
    bounds = value_range_bounds(df, value_col, n_buckets, cache_key=cache_key)
    bexpr = bucket_expr(F.col(value_col), bounds)
    x = F.col(value_col)
    # fixed_scale: sums accumulate as EXACT int64 (order-free partials) so
    # the driver-side mean assembly is deterministic — see _pinned_means
    sum_expr = (
        F.sum(x)
        if fixed_scale is None
        else F.sum(F.round(x * F.lit(float(fixed_scale)), 0).cast("bigint"))
    )
    cells = (
        df.select(key, value_col)
        .groupBy(key, bexpr.alias("__b"))
        .agg(F.count(F.lit(1)).alias("__c"), sum_expr.alias("__s"))
        .limit(CELL_COLLECT_GATE + 1)
        .collect()
    )
    if len(cells) > CELL_COLLECT_GATE:
        # key cardinality beyond the driver-collect gate: all-lazy form
        if disc_fracs is not None:
            q = exact_group_order_stats_lazy(
                df, key, value_col, list(disc_fracs),
                n_buckets=n_buckets, cache_key=cache_key,
            )
            b = q.groupBy(key).agg(
                F.max(F.when(F.col("__i") == 0, F.col("__q"))).alias("__lo"),
                F.max(F.when(F.col("__i") == 1, F.col("__q"))).alias("__hi"),
            )
        else:
            q = exact_group_quantiles_lazy(
                df, key, value_col, [p_lo, p_hi], n_buckets=n_buckets, cache_key=cache_key
            )
            b = q.groupBy(key).agg(
                F.max(F.when(F.col("__p") == float(p_lo), F.col("__q"))).alias("__lo"),
                F.max(F.when(F.col("__p") == float(p_hi), F.col("__q"))).alias("__hi"),
            )
        base = df.select(key, value_col).join(F.broadcast(b), key)
        if fixed_scale is None:
            wins = F.greatest(F.col("__lo"), F.least(F.col("__hi"), x))
            return base.groupBy(key).agg(
                F.count(F.lit(1)).alias("__n"),
                F.avg(x).alias("__mean_raw"),
                F.avg(wins).alias("__mean_wins"),
                F.sum((x < F.col("__lo")).cast("bigint")).alias("__n_lo"),
                F.sum((x > F.col("__hi")).cast("bigint")).alias("__n_hi"),
            )
        # exact-int64 sums + the pinned-mean expression as Spark columns:
        # bigint/double and bigint*double promote exactly like Python's
        # int/float (cast-then-IEEE-op), so this is bit-identical to
        # _pinned_means and to the oracle SQL recipe
        s = F.lit(float(fixed_scale))
        c = F.round(x * s, 0).cast("bigint")
        agg = base.groupBy(key).agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(c).alias("__sc"),
            F.sum(
                F.when((x >= F.col("__lo")) & (x <= F.col("__hi")), c).otherwise(
                    F.lit(0)
                )
            ).alias("__scm"),
            F.sum((x < F.col("__lo")).cast("bigint")).alias("__n_lo"),
            F.sum((x > F.col("__hi")).cast("bigint")).alias("__n_hi"),
            F.max("__lo").alias("__plo"),
            F.max("__hi").alias("__phi"),
        )
        return agg.select(
            key,
            "__n",
            (F.col("__sc") / s / F.col("__n")).alias("__mean_raw"),
            (
                (
                    F.col("__scm") / s
                    + F.col("__n_lo") * F.col("__plo")
                    + F.col("__n_hi") * F.col("__phi")
                )
                / F.col("__n")
            ).alias("__mean_wins"),
            "__n_lo",
            "__n_hi",
        )
    # r8 FUSED pass-2+3 (VERDICT r7 item 3 — the r6b chain ran FOUR serial
    # jobs: cells, quantile window+join, boundary-compare agg, assembly;
    # measured flat ~3.1 s at both 64× and 256× = pass-chain latency, not
    # data): after the pass-1 cells, ONE pruned per-key Arrow kernel both
    # extracts the interpolated bounds (sorted-position reads inside the
    # buckets holding each target order statistic — identical positions to
    # the old row_number window) AND runs the boundary per-row compares
    # against them. Total: one full scan (cells) + one pruned scan (kernel)
    # + the cached bounds artifact. Per-task bound: a key's rows in ≤4
    # needed buckets ≈ 4n/(K·B) — same order as the old per-(key,bucket)
    # window partitions, never a whole key group.
    import math

    import numpy as np
    import pandas as pd

    layout = _cell_layout([(r[0], r[1], r[2]) for r in cells])
    if not layout:
        key_t = dict(df.dtypes)[key]
        return spark.createDataFrame(
            [],
            f"{key} {key_t}, __n bigint, __mean_raw double, "
            "__mean_wins double, __n_lo bigint, __n_hi bigint",
        )
    need: dict = {}
    needed_buckets: set = set()
    for k, (bs, offs, n) in layout.items():
        tgt = []
        if disc_fracs is not None:
            # interpolation-free: ONE exact position per bound; reusing the
            # (bf, lf, bc, lc, frac) tuple with bc=bf, lc=lf, frac=0.0 makes
            # the kernel's v_f·(1−0) + v_c·0 collapse to exactly v_f
            for num, den in disc_fracs:
                pos0 = ceil_pos(num, den, n) - 1
                bf, lf = _locate(bs, offs, pos0)
                tgt.append((bf, lf, bf, lf, 0.0))
                needed_buckets.add(int(bf))
        else:
            for p in (p_lo, p_hi):
                h = p * (n - 1)
                frac = h - math.floor(h)
                bf, lf = _locate(bs, offs, math.floor(h))
                bc, lc = _locate(bs, offs, math.ceil(h))
                tgt.append((bf, lf, bc, lc, frac))
                needed_buckets.update((int(bf), int(bc)))
        need[k] = tuple(tgt)

    scale_f = None if fixed_scale is None else float(fixed_scale)

    def _bkernel(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf[key].iloc[0]
        (bf1, lf1, bc1, lc1, fr1), (bf2, lf2, bc2, lc2, fr2) = need[k]
        v = pdf[value_col].to_numpy()
        b = pdf["__b"].to_numpy()

        def val_at(bb, lp):
            # sorted local position inside one bucket == the old
            # row_number-window extraction, bitwise
            return float(np.sort(v[b == bb])[lp])

        # symmetric interpolation — quantile_cont_sorted's exact form
        p05 = val_at(bf1, lf1) * (1 - fr1) + val_at(bc1, lc1) * fr1
        p95 = val_at(bf2, lf2) * (1 - fr2) + val_at(bc2, lc2) * fr2
        # bucket of the bound, with the data's own comparator (bucket_of ==
        # bucket_expr by the pinned invariant); an empty intermediate bucket
        # simply matches no rows here and contributes zero
        b05 = bucket_of(p05, bounds)
        b95 = bucket_of(p95, bounds)
        m05 = (b == b05) & (v < p05)
        m95 = (b == b95) & (v <= p95)
        if scale_f is None:
            s_lo, s_le = float(v[m05].sum()), float(v[m95].sum())
        else:
            c = np.rint(v * scale_f).astype(np.int64)
            s_lo, s_le = int(c[m05].sum()), int(c[m95].sum())
        return pd.DataFrame(
            {
                key: [k],
                "__p05": [p05],
                "__p95": [p95],
                "__c_lo": [int(m05.sum())],
                "__s_lo": [s_lo],
                "__c_le": [int(m95.sum())],
                "__s_le": [s_le],
            }
        )

    key_t = dict(df.dtypes)[key]
    s_t = "double" if fixed_scale is None else "bigint"
    part = {
        r[0]: (r[1], r[2], r[3], r[4], r[5], r[6])
        for r in (
            df.select(key, value_col)
            .where(bucket_range_filter(value_col, bounds, needed_buckets))
            .withColumn("__b", bexpr)
            .groupBy(key)
            .applyInPandas(
                _bkernel,
                f"{key} {key_t}, __p05 double, __p95 double, "
                f"__c_lo bigint, __s_lo {s_t}, __c_le bigint, __s_le {s_t}",
            )
            .collect()
        )
    }
    by_key: dict = {}
    for r in cells:
        # fixed_scale keeps sums as exact Python ints end-to-end
        sv = float(r[3]) if fixed_scale is None else int(r[3])
        by_key.setdefault(r[0], {})[r[1]] = (r[2], sv)
    out = []
    for k, bmap in by_key.items():
        n = sum(c for c, _ in bmap.values())
        s_total = sum(s for _, s in (bmap[b] for b in sorted(bmap)))
        p05, p95, c_lo, s_lo, c_le, s_le = part[k]
        b05 = bucket_of(p05, bounds)
        b95 = bucket_of(p95, bounds)

        def below(bb):
            return (
                sum(c for b, (c, _) in bmap.items() if b < bb),
                sum(s for b, (_, s) in bmap.items() if b < bb),
            )

        (bc05, bs05), (bc95, bs95) = below(b05), below(b95)
        n_lo = bc05 + c_lo
        s_below_p05 = bs05 + s_lo
        n_le95 = bc95 + c_le
        s_le95 = bs95 + s_le
        n_hi = n - n_le95
        mid = s_le95 - s_below_p05  # Σ{p05 ≤ v ≤ p95}, exact int when scaled
        if fixed_scale is None:
            mean_raw = s_total / n
            mean_wins = (n_lo * p05 + n_hi * p95 + mid) / n
        else:
            mean_raw, mean_wins = _pinned_means(
                n, s_total, mid, n_lo, n_hi, p05, p95, fixed_scale
            )
        out.append((k, n, mean_raw, mean_wins, int(n_lo), int(n_hi)))
    return spark.createDataFrame(
        out,
        f"{key} {key_t}, __n bigint, __mean_raw double, "
        "__mean_wins double, __n_lo bigint, __n_hi bigint",
    )
