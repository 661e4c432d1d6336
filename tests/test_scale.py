"""Scale-machinery tests: bucketed layouts and their registration, salted
aggregation/join equivalence, partitioned sink layout, skew profiler.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from duckdb_ml_spark.tables import load


def test_salted_agg_equals_plain(spark, sf_dir):
    from duckdb_ml_spark.plans.scale import salted_agg

    li = load(spark, sf_dir, "lineitem")
    salted = salted_agg(
        li,
        ["l_returnflag"],
        {
            "n": (F.count, F.sum, "l_quantity"),
            "sum_qty": (F.sum, F.sum, "l_quantity"),
            "min_qty": (F.min, F.min, "l_quantity"),
            "max_qty": (F.max, F.max, "l_quantity"),
        },
    )
    plain = li.groupBy("l_returnflag").agg(
        F.count("l_quantity").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )
    key = lambda r: r.l_returnflag
    s = {key(r): (r.n, round(r.sum_qty, 6), r.min_qty, r.max_qty) for r in salted.collect()}
    p = {key(r): (r.n, round(r.sum_qty, 6), r.min_qty, r.max_qty) for r in plain.collect()}
    assert s == p and len(s) > 0


def test_salted_join_equals_plain(spark, sf_dir):
    from duckdb_ml_spark.plans.scale import salted_join

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    salted = salted_join(li, orders, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s")
    )
    plain = li.join(orders, "l_orderkey").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 4).alias("s")
    )
    assert salted.collect() == plain.collect()


def test_partitioned_parquet_layout(spark, sf_dir, tmp_path):
    from duckdb_ml_spark.sinks import write_parquet_partitioned

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "docs_by_lang")
    write_parquet_partitioned(docs, out, ["lang"])
    subdirs = {d for d in os.listdir(out) if d.startswith("lang=")}
    assert len(subdirs) >= 2
    # partition pruning: filter on the partition column reads only that dir
    back = spark.read.parquet(out).where(F.col("lang") == "en")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(lang" in plan or "lang#" in plan
    assert back.count() == docs.where(F.col("lang") == "en").count()


def test_key_skew_profile(spark, sf_dir):
    from duckdb_ml_spark.plans.scale import key_skew_profile

    prof = key_skew_profile(load(spark, sf_dir, "lineitem"), "l_returnflag", top=5)
    rows = prof.collect()
    assert 0 < len(rows) <= 5
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-6  # few distinct keys: full mass
    assert rows[0].n >= rows[-1].n


def test_span_fraction_never_broadcasts_corpus_sized_sides(spark, sf_dir):
    """Regression lock for the 16x-probe scale bug: both joins in
    dedup_span_fraction carry corpus-sized relations (per-gram counts, per-doc
    rollup), so neither may be planned as a broadcast join regardless of what
    the stats estimate — the SHUFFLE_HASH hints must hold."""
    from duckdb_ml_spark.operators.dedup import span_dup_fraction

    out = span_dup_fraction(load(spark, sf_dir, "documents"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan and "BroadcastNestedLoop" not in plan
    assert plan.count("ShuffledHashJoin") == 2


def test_zorder_layout_prunes_both_dimensions(spark, sf_dir, tmp_path):
    """The z-order contract is BALANCED pruning: a single-column sort is
    perfect on its own column but prunes NOTHING on the other (fraction
    1.0), while the z layout bounds the worst case across BOTH dimensions
    (measured at 32 files: z a-only 0.625 / b-only 0.375 / 2-D box 0.25 vs
    linear 0.125 / 1.0 / 0.125 — for a single conjunctive box the
    more-selective-column sort can win; robustness across predicate shapes
    is what the curve buys). Also: layout never changes results."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.plans.scale import (
        _zorder_box,
        rowgroup_overlap_fraction,
        zorder_write,
    )

    li, (a_lo, a_hi), (b_lo, b_hi) = _zorder_box(spark, sf_dir)
    zdir = str(tmp_path / "z")
    ldir = str(tmp_path / "linear")
    zorder_write(li, "l_orderkey", "l_partkey", zdir, n_files=32)
    (
        li.repartitionByRange(32, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )
    FULL = (0, 1 << 60)

    def fr(path, box_a, box_b):
        return rowgroup_overlap_fraction(path, "l_orderkey", box_a, "l_partkey", box_b)

    # the single-column sort cannot prune the OTHER dimension at all
    assert fr(ldir, FULL, (b_lo, b_hi)) == 1.0
    # the z layout prunes meaningfully in EVERY predicate shape
    z_worst = max(
        fr(zdir, (a_lo, a_hi), FULL),
        fr(zdir, FULL, (b_lo, b_hi)),
        fr(zdir, (a_lo, a_hi), (b_lo, b_hi)),
    )
    assert z_worst < 0.8, z_worst
    assert fr(zdir, (a_lo, a_hi), (b_lo, b_hi)) < 0.5
    # correctness is layout-invariant
    pred = F.col("l_orderkey").between(a_lo, a_hi) & F.col("l_partkey").between(b_lo, b_hi)
    a = sorted(map(tuple, spark.read.parquet(zdir).where(pred).select("l_orderkey", "l_linenumber").collect()))
    b = sorted(map(tuple, li.where(pred).select("l_orderkey", "l_linenumber").collect()))
    assert a == b


def test_adaptive_salted_join_skew_and_uniform(spark):
    """Crafted hot key (low threshold) must route through the salted branch
    and still equal the plain join; uniform keys must equal it too (and
    degenerate to the plain plan, no salt column anywhere)."""
    from duckdb_ml_spark.plans.scale import adaptive_salted_join

    big = spark.createDataFrame(
        [(1, i) for i in range(5000)] + [(k, 0) for k in range(2, 30)],
        "k bigint, v bigint",
    )
    dim = spark.createDataFrame([(k, f"d{k}") for k in range(1, 30)], "k bigint, name string")
    plain = {(r.k, r.v, r.name) for r in big.join(dim, "k").collect()}
    # skewed: threshold low enough that key 1 is hot (sample_fraction 1.0 =
    # exact profile in the test; production uses the 0.001 sample)
    out = adaptive_salted_join(big, dim, "k", hot_threshold=100, sample_fraction=1.0)
    assert {(r.k, r.v, r.name) for r in out.collect()} == plain
    # uniform: nothing hot -> identical results, plain-join plan
    out2 = adaptive_salted_join(big.where("k != 1"), dim, "k", hot_threshold=100_000, sample_fraction=1.0)
    plain2 = {(r.k, r.v, r.name) for r in big.where("k != 1").join(dim, "k").collect()}
    assert {(r.k, r.v, r.name) for r in out2.collect()} == plain2
    assert "__salt" not in out2.columns


def test_key_skew_profile_deterministic_under_ties(spark):
    """Count ties at the top-k boundary must resolve by key, identically
    across partitionings — the returned SET is what the oracle hashes."""
    from duckdb_ml_spark.plans.scale import key_skew_profile

    rows = [(k, i) for k in range(1, 21) for i in range(3)]  # 20 keys, all n=3
    df = spark.createDataFrame(rows, "k bigint, v bigint")
    a = [tuple(r) for r in key_skew_profile(df, "k", top=5).collect()]
    b = [tuple(r) for r in key_skew_profile(df.repartition(7), "k", top=5).collect()]
    assert a == b
    assert [r[0] for r in a] == [1, 2, 3, 4, 5]  # key-ascending tiebreak


def test_skew_join_bucketed_branch_equals_plain(spark, sf_dir, monkeypatch):
    """Force the above-gate bucketed-layout branch of skew_salted_join (the
    real gate is 1 GB of lineitem parquet, unreachable at test SFs) and
    assert (a) value equality with the plain-join form the oracle encodes,
    (b) the bucket-aligned join itself plans with zero Exchange nodes before
    the 5-group aggregate (the one exchange the aggregate is allowed)."""
    import duckdb_ml_spark.plans.scale as scale

    monkeypatch.setattr(scale, "_BUCKET_LAYOUT_GATE_BYTES", 0)
    # fresh hot-key cache entry irrelevant: uniform data -> no hot keys
    out = scale._salted_join_q(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one exchange: the final groupBy(o_orderpriority); the join
    # itself must be bucket-aligned (no "Exchange hashpartitioning(l_orderkey")
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    got = {tuple(r) for r in out.collect()}
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    od = load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = (
        li.join(od, "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )
    assert got == {tuple(r) for r in plain.collect()}


def test_vocab_topk_never_shuffles_doc_keyed_rows(spark, sf_dir):
    """Regression lock for the r11 vocab_topk restructure: per-doc token
    distinctness is row-local (each document is one row), so NO exchange may
    carry doc_id — the old (tok, doc_id) groupBy shuffled every distinct
    (token, doc) pair (~150M rows at the 256x probe; the two-branch form is
    measured 1.7x faster there, bench/VOCAB_VARIANTS_x256_r11.json). Both
    remaining exchanges must be token-keyed partial-agg outputs."""
    from duckdb_ml_spark.operators.text import vocab_topk

    plan = vocab_topk(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "doc_id" not in m.group(1), plan


def test_bloom_layout_prunes_point_lookups(spark, sf_dir, tmp_path):
    """The bloom-filter layout contract: with the key round-robin-scattered
    (every file spans the whole keyspace, min/max stats prune NOTHING), a
    3-key IN probe must still read well under half the table — only the
    bloom filters can be doing the skipping. And layout never changes
    results: the probe on the bloom layout equals the probe on the original
    table."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.plans.scale import bloom_write, scan_output_rows
    from duckdb_ml_spark.tables import load

    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    n = orders.count()
    mm = orders.agg(F.min("o_orderkey"), F.max("o_orderkey")).head()
    keys = [int(mm[0]), int((mm[0] + mm[1]) // 2) | 1, int(mm[1])]
    out = str(tmp_path / "orders_bloom")
    bloom_write(orders, "o_orderkey", out, n_files=16, ndv=n)
    back = spark.read.parquet(out)
    probe = back.where(F.col("o_orderkey").isin(keys))
    scanned = scan_output_rows(probe)
    assert scanned < 0.4 * n, (scanned, n)
    expect = {tuple(r) for r in orders.where(F.col("o_orderkey").isin(keys)).collect()}
    assert {tuple(r) for r in probe.collect()} == expect
    # falsification guard: the same probe on a bloom-less copy of the same
    # layout must NOT prune (otherwise the assert above proves nothing)
    plain = str(tmp_path / "orders_plain")
    orders.repartition(16).write.mode("overwrite").parquet(plain)
    scanned_plain = scan_output_rows(
        spark.read.parquet(plain).where(F.col("o_orderkey").isin(keys))
    )
    assert scanned_plain > 0.9 * n, (scanned_plain, n)


def test_scan_output_rows_sees_through_aqe(spark, sf_dir):
    """ADVICE r11: AdaptiveSparkPlanExec is a children()-leaf, so the metric
    walk must unwrap it (and QueryStage wrappers) — otherwise an AQE-executed
    plan returns 0 scanned rows and any pruning assertion trivially passes.
    With the unwrap, an aggregation under AQE must report every source row;
    a plan with no scan at all must fail loudly instead of returning 0."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from duckdb_ml_spark.plans.scale import scan_output_rows
    from duckdb_ml_spark.tables import load

    orders = load(spark, sf_dir, "orders")
    n = orders.count()
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        agg = orders.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
        assert scan_output_rows(agg) == n
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    with _pytest.raises(AssertionError, match="no scan node"):
        scan_output_rows(spark.range(10).agg(F.sum("id").alias("s")))


def test_revenue_bucketed_branch_equals_plain(spark, sf_dir, monkeypatch):
    """Force revenue_by_nation's above-gate bucketed-layout branch (real gate:
    1 GB of lineitem parquet — unreachable at test SFs) and assert (a) value
    equality with the below-gate broadcast plan the driver hashes, (b) the
    bucket-aligned join plans with NO exchange on the orderkey (the session's
    subset-co-partitioning config must accept the orderkey buckets even after
    Catalyst folds the nation filter back into the join keys)."""
    import duckdb_ml_spark.plans.relational as rel
    import duckdb_ml_spark.plans.scale as scale

    plain = {tuple(r) for r in rel.revenue_by_nation(spark, sf_dir).collect()}
    # r14: the gate lives in the shared advisor now (layout_advise)
    monkeypatch.setattr(scale, "_BUCKET_LAYOUT_GATE_BYTES", 0)
    out = rel.revenue_by_nation(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # no exchange may carry the orderkey (the join must be bucket-aligned);
    # the 5-group aggregate's s_nationkey exchange is the one allowed
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(s_nationkey, l_orderkey" not in plan, plan
    assert {tuple(r) for r in out.collect()} == plain


def test_bucketed_table_names_one_layout_and_reregisters(spark, sf_dir, tmp_path, monkeypatch):
    """A table name maps to exactly one layout directory: a different bucket
    count gives a different directory and table, each reporting its own
    bucket count (a re-register can never mis-describe the bucket hash). A
    second call after DROP TABLE, or from another session, registers over
    the existing layout without rewriting it."""
    from duckdb_ml_spark import memo
    from duckdb_ml_spark.sources.readers import bucketed_table

    monkeypatch.setattr(memo, "_TMP", str(tmp_path))

    def detail(t, row):
        return next(r[1] for r in spark.sql(f"DESCRIBE FORMATTED {t}").collect() if r[0] == row)

    def files(t):
        loc = detail(t, "Location").removeprefix("file:")
        return os.stat(loc).st_ino, sorted(os.listdir(loc))

    def orders(session):
        return load(session, sf_dir, "orders").select("o_orderkey", "o_totalprice")

    n = orders(spark).count()
    t4 = bucketed_table(spark, sf_dir, orders(spark), "o_orderkey", "t_val_b", 4, ["orders"])
    t8 = bucketed_table(spark, sf_dir, orders(spark), "o_orderkey", "t_val_b", 8, ["orders"])
    try:
        assert t4 != t8
        assert detail(t4, "Location") != detail(t8, "Location")
        assert detail(t4, "Num Buckets").strip() == "4"
        assert detail(t8, "Num Buckets").strip() == "8"
        written = files(t8)
        assert sum(f.endswith(".parquet") for f in written[1]) == 8  # one file per bucket

        spark.sql(f"DROP TABLE {t8}")
        assert bucketed_table(spark, sf_dir, orders(spark), "o_orderkey", "t_val_b", 8, ["orders"]) == t8
        assert files(t8) == written
        assert detail(t8, "Num Buckets").strip() == "8"
        assert spark.table(t8).count() == n

        other = spark.newSession()
        assert bucketed_table(other, sf_dir, orders(other), "o_orderkey", "t_val_b", 8, ["orders"]) == t8
        assert files(t8) == written
        assert other.table(t8).count() == n
    finally:
        for t in (t4, t8):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_layout_advise_regimes(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r12 item 4: the advisor must reproduce the four measured
    regimes (and the salted/none edges), each threshold anchored to its
    committed artifact. Gates are monkeypatched down to unit-test scale the
    same way the skew/bucket tests force their branches."""
    import duckdb_ml_spark.plans.scale as scale
    from duckdb_ml_spark.plans.scale import key_span_fraction, layout_advise

    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")

    # 1. 2-D range workload → zorder, no stats jobs needed
    a = layout_advise(orders, "o_orderkey", workload="range2d", second_key="o_custkey")
    assert a["layout"] == "zorder"

    # 2. crafted hot key → salted (gate scaled down like test_skew_join does)
    monkeypatch.setattr(scale, "HOT_KEY_ROWS", 50)
    monkeypatch.setattr(scale, "HOT_SAMPLE_FRACTION", 1.0 / 32)  # sample all
    skewed = spark.range(0, 2000).select(
        (F.col("id") % 1000 * F.when(F.col("id") < 1900, 0).otherwise(1)).alias("k")
    )
    a = layout_advise(skewed, "k", workload="join")
    assert a["layout"] == "salted", a

    # 3. low-NDV key with enough rows per value → partitioned. The hot gate
    # goes back to its real value first: case 2 scaled it to 50 rows, and
    # at unit-test corpus sizes the sampled estimator's extrapolation
    # (~tens of rows from a handful of samples) legitimately crosses 50 —
    # production separation is 1M vs ~4k samples of a genuinely hot key.
    monkeypatch.setattr(scale, "HOT_KEY_ROWS", 1_000_000)
    monkeypatch.setattr(scale, "PARTITION_MIN_ROWS_PER_VALUE", 10)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    a = layout_advise(docs, "source", workload="agg")
    assert a["layout"] == "partitioned", a

    # 4. high-NDV join key above the byte gate → bucketed
    a = layout_advise(orders, "o_orderkey", workload="join", table_bytes=2 << 30)
    assert a["layout"] == "bucketed", a
    # same key below the gate → none (plain shuffle is cheapest)
    a = layout_advise(orders, "o_orderkey", workload="join", table_bytes=1 << 20)
    assert a["layout"] == "none", a

    # 5. lookup on a CLUSTERED key (sorted parquet, many row groups) →
    #    minmax; on a SCATTERED key (hash-ordered) → bloom — the BLOOMCOLD
    #    boundary, reproduced from footer stats alone
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = list(range(20_000))
    clustered = str(tmp_path / "clustered.parquet")
    pq.write_table(pa.table({"k": ids}), clustered, row_group_size=1000)
    span_c = key_span_fraction(clustered, "k")
    assert span_c is not None and span_c < 0.1
    scattered = str(tmp_path / "scattered.parquet")
    shuffled = sorted(ids, key=lambda i: (i * 2654435761) % (1 << 32))
    pq.write_table(pa.table({"k": shuffled}), scattered, row_group_size=1000)
    span_s = key_span_fraction(scattered, "k")
    assert span_s is not None and span_s > 0.9

    kdf = spark.read.parquet(clustered)
    a = layout_advise(kdf, "k", workload="lookup", table_path=clustered)
    assert a["layout"] == "minmax", a
    a = layout_advise(kdf, "k", workload="lookup", table_path=scattered)
    assert a["layout"] == "bloom", a

    # single row group ⇒ span 1.0 (min/max cannot prune one group)
    single = str(tmp_path / "single.parquet")
    pq.write_table(pa.table({"k": ids}), single)
    assert key_span_fraction(single, "k") == 1.0
    # non-numeric key ⇒ None (advisor falls back to bloom with caveat)
    strs = str(tmp_path / "strs.parquet")
    pq.write_table(pa.table({"k": [str(i) for i in ids]}), strs, row_group_size=1000)
    assert key_span_fraction(strs, "k") is None
