"""Deterministic sampling / splitting operators.

Training-data pipelines need REPRODUCIBLE sampling: the same row must land in
the same split on every run, on any cluster, regardless of partitioning —
which rules out `df.sample` (partition-order dependent RNG). These operators
derive the decision from a hash of row identity, so they are pure column
expressions: deterministic, re-runnable, pushdown-friendly, and expressible in
any engine (DuckDB oracle included).

Bucket function: first 8 hex chars of md5(salt || id) as a uint32 →
bucket = h mod n. Uniform over ids, stable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_ml_spark.memo import drop, memo
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

N_BUCKETS = 100


def hash_uint(id_col: Column, salt: str, hex_width: int = 8) -> Column:
    """First `hex_width` hex chars of md5(salt ':' id) as a bigint — THE
    cross-engine hash recipe (SQL twin: _hash_uint_sql; any change must land
    in both). 8 chars → 32-bit bucket source; 15 chars → 60-bit order key."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), id_col.cast("string"))), 1, hex_width
        ),
        16,
        10,
    ).cast("bigint")


def _hash_uint_sql(id_expr: str, salt: str, hex_width: int = 8) -> str:
    return f"('0x' || substr(md5('{salt}:' || {id_expr}::VARCHAR), 1, {hex_width}))::BIGINT"


def hash_bucket(id_col: Column, salt: str = "split", n: int = N_BUCKETS) -> Column:
    """Deterministic bucket 0..n-1 from md5 of (salt ':' id)."""
    return (hash_uint(id_col, salt) % n).cast("int")


def _hash_bucket_sql(id_expr: str, salt: str = "split", n: int = N_BUCKETS) -> str:
    return f"({_hash_uint_sql(id_expr, salt)} % {n})::INT"


def split_train_test(
    df: DataFrame, id_col: str, test_pct: int = 20, salt: str = "split"
) -> tuple[DataFrame, DataFrame]:
    """Reproducible (100-test_pct)/test_pct split by id hash; disjoint and
    exhaustive by construction, stable under re-partitioning and re-runs."""
    b = hash_bucket(F.col(id_col), salt)
    return df.where(b >= test_pct), df.where(b < test_pct)


def stratified_sample(
    df: DataFrame, id_col: str, strata_col: str, pct_by_stratum: dict[str, int], salt: str = "sample"
) -> DataFrame:
    """Per-stratum deterministic percentage sample (e.g. downsample dominant
    languages, keep all of rare ones)."""
    b = hash_bucket(F.col(id_col), salt)
    keep = None
    for stratum, pct in pct_by_stratum.items():
        cond = (F.col(strata_col) == stratum) & (b < pct)
        keep = cond if keep is None else keep | cond
    others = ~F.col(strata_col).isin(*pct_by_stratum.keys())
    return df.where(keep | others)


def _split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split summary: per-split doc counts + char sums (proves disjoint +
    exhaustive + deterministic against the oracle)."""
    docs = load(spark, sf_dir, "documents")
    train, test = split_train_test(docs, "doc_id")
    t = train.select(F.lit("train").alias("split"), "doc_id", "n_chars")
    s = test.select(F.lit("test").alias("split"), "doc_id", "n_chars")
    return (
        t.union(s)
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars"))
    )


_SPLIT_ORACLE = f"""
SELECT CASE WHEN {_hash_bucket_sql("doc_id")} < 20 THEN 'test' ELSE 'train' END AS split,
       count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY 1
"""


def _stratified_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep 30% of 'en' docs, 100% of everything else — the downsample-the-
    dominant-language move; returns kept ids for exact parity."""
    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "doc_id", "lang", {"en": 30}).select("doc_id", "lang")


_STRATIFIED_ORACLE = f"""
SELECT doc_id, lang FROM documents
WHERE (lang = 'en' AND {_hash_bucket_sql("doc_id", "sample")} < 30) OR lang != 'en'
"""


TEMP_TAU = 0.5  # temperature exponent: p_s ∝ n_s^τ flattens the source mix
TEMP_BUDGET = 0.5  # target corpus fraction after resampling


def temperature_sample(
    df: DataFrame,
    id_col: str,
    source_col: str = "source",
    tau: float = TEMP_TAU,
    budget: float = TEMP_BUDGET,
    salt: str = "temp",
) -> DataFrame:
    """Deterministic temperature resampling across sources: keep-rate per
    source r_s = min(1, budget·N·(n_s^τ / Σ n^τ) / n_s) — the multinomial
    reweighting (mT5/XLM-R style) that downsamples dominant sources and keeps
    rare ones, applied as a reproducible hash threshold instead of an RNG.

    Scale shape: the rate table is one tiny aggregate (|sources| rows)
    broadcast back onto the scan; membership is a pure column predicate —
    no shuffle of the corpus, stable under re-partitioning and re-runs.
    Rates are rounded to 9 decimals on both engines: they come from pow(),
    where libm implementations may differ in the last ulp, and an unrounded
    rate sitting exactly on a bucket boundary would flip whole buckets."""
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_src"))
    w = F.pow(F.col("n_src").cast("double"), tau)
    counts = counts.select(source_col, "n_src", w.alias("w"))
    totals = counts.agg(
        F.sum("w").alias("tw"), F.sum("n_src").alias("tn")
    )
    rates = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            source_col,
            "n_src",
            F.round(
                F.least(
                    F.lit(1.0),
                    F.lit(budget) * F.col("tn") * (F.col("w") / F.col("tw")) / F.col("n_src"),
                ),
                9,
            ).alias("rate"),
        )
    )
    b = hash_bucket(F.col(id_col), salt)
    return (
        df.join(F.broadcast(rates), source_col)
        .where(b.cast("double") < F.col("rate") * N_BUCKETS)
    )


def _temperature_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit rollup of the temperature resample: original size,
    keep rate, kept docs — the table a mixture-tuning run reports."""
    docs = load(spark, sf_dir, "documents")
    kept = temperature_sample(docs, "doc_id")
    return kept.groupBy("source").agg(
        F.max("n_src").alias("n_docs"),
        F.max("rate").alias("rate"),
        F.count(F.lit(1)).alias("n_kept"),
    )


_TEMPERATURE_ORACLE = f"""
WITH counts AS (
    SELECT source, count(*) AS n_src, pow(count(*)::DOUBLE, {TEMP_TAU}) AS w
    FROM documents GROUP BY source
),
rates AS (
    SELECT source, n_src,
           round(least(1.0,
               {TEMP_BUDGET} * (sum(n_src) OVER ()) * (w / sum(w) OVER ()) / n_src), 9) AS rate
    FROM counts
)
SELECT d.source, max(r.n_src) AS n_docs, max(r.rate) AS rate, count(*) AS n_kept
FROM documents d
JOIN rates r ON d.source = r.source
WHERE {_hash_bucket_sql("d.doc_id", "temp")}::DOUBLE < r.rate * {N_BUCKETS}
GROUP BY d.source
"""


def importance_sample(
    df: DataFrame, keep_prob: Column, id_col: str = "doc_id", salt: str = "imp"
) -> DataFrame:
    """Keep each row with its OWN probability, deterministically: row kept iff
    hash-uniform(salt, id) < keep_prob. The quality-weighted downsampling
    stage of a curation pipeline (better docs survive more often), with the
    same reproducibility contract as every sampler here — pure column
    expression, partition-order independent, re-runnable, engine-portable.
    Uniform = md5-derived bucket / N (granularity 1/N; exact tie handling
    matches the SQL twin by construction)."""
    u = hash_bucket(F.col(id_col), salt).cast("double") / N_BUCKETS
    return df.where(u < keep_prob)


def _importance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source audit of quality-weighted sampling: keep_prob =
    quality_score (∈[0,1] by construction on this corpus), kept counts and
    mean kept-quality per source."""
    from duckdb_ml_spark.operators.text import quality_score

    # quality carried with source in ONE projection over the scan — no join
    # back onto documents (saves a shuffle + second scan)
    q = quality_score(spark, sf_dir, carry=("source",)).select(
        "doc_id", "source", "quality_score"
    )
    kept = importance_sample(q, F.col("quality_score"))
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.round(F.avg("quality_score"), 6).alias("mean_kept_quality"),
    )


def _importance_oracle() -> str:
    from duckdb_ml_spark.operators.text import _QUALITY_ORACLE

    return f"""
    WITH q AS MATERIALIZED ({_QUALITY_ORACLE})
    SELECT d.source, count(*) AS n_kept,
           round(avg(q.quality_score), 6) AS mean_kept_quality
    FROM documents d JOIN q ON d.doc_id = q.doc_id
    WHERE {_hash_bucket_sql("d.doc_id", "imp")}::DOUBLE / {N_BUCKETS} < q.quality_score
    GROUP BY d.source
    """


# --- length-bucketed batching -------------------------------------------------

LEN_BUCKETS = 8


def length_buckets(
    docs: DataFrame, n_buckets: int = LEN_BUCKETS,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Bucket documents into n equal-frequency token-length tiers — the
    batching prep every inference/embedding service runs so a batch's padding
    waste is bounded (batching a 10-token doc with a 400-token doc pads 97%).
    Emits the per-bucket decision table: count, min/max/avg token length, and
    the padding-waste ratio if each bucket were padded to its max.

    Deterministic: ntile over (n_tokens, id) — a total order, so both engines
    assign identical tiers. Plan: one map-side token count, one ntile window
    (single total-order sort — at 100 TB replace with approx-quantile range
    boundaries to avoid the global sort; the decision table is identical),
    one groupBy(bucket) rollup."""
    from duckdb_ml_spark.operators.textnorm import tokens
    from pyspark.sql.window import Window

    n_tok = F.size(tokens(F.col(text_col))).cast("bigint")
    base = docs.select(F.col(id_col), n_tok.alias("n_tokens"))
    w = Window.orderBy("n_tokens", id_col)
    tiered = base.select(id_col, "n_tokens", F.ntile(n_buckets).over(w).alias("bucket"))
    return (
        tiered.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "min_tokens",
            "max_tokens",
            F.round(F.col("sum_tokens") / F.col("n_docs"), 6).alias("avg_tokens"),
            F.round(
                F.lit(1.0) - F.col("sum_tokens") / (F.col("n_docs") * F.col("max_tokens")),
                6,
            ).alias("pad_waste"),
        )
    )


def _length_buckets_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return length_buckets(load(spark, sf_dir, "documents"))


def _length_buckets_oracle() -> str:
    from duckdb_ml_spark.operators.textnorm import tokens_sql

    return f"""
WITH t AS (
    SELECT doc_id, len({tokens_sql("text")})::BIGINT AS n_tokens FROM documents
),
tiered AS (
    SELECT doc_id, n_tokens,
           ntile({LEN_BUCKETS}) OVER (ORDER BY n_tokens, doc_id) AS bucket
    FROM t
)
SELECT bucket, count(*)::BIGINT AS n_docs,
       min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens,
       round(sum(n_tokens)::DOUBLE / count(*), 6) AS avg_tokens,
       round(1.0 - sum(n_tokens)::DOUBLE / (count(*) * max(n_tokens)), 6) AS pad_waste
FROM tiered GROUP BY bucket
"""


# --- quality-ranked token-budget selection ------------------------------------

BUDGET_FRACTION = 0.5  # keep the best docs until 50% of each source's tokens


def token_budget_selection(
    spark: SparkSession, sf_dir: str, fraction: float = BUDGET_FRACTION
) -> DataFrame:
    """Data-budget curation: per source, rank documents by quality score and
    keep the best until the shard's token budget (fraction of its total
    tokens) is spent — the "train on the best half" selection step every
    budgeted pretraining run performs after scoring.

    A doc is kept iff the tokens BEFORE it in quality order fit the budget
    (the budget-crossing doc is included — first-fit, so the budget is a
    floor not a ceiling; deterministic either way).

    Determinism: quality_score is the same IEEE expression chain on both
    engines (text_quality_score hash-passes unrounded), and the order is
    (score DESC, doc_id) — a total order. Plan: ONE window partition per
    source computing both the shard total and the exclusive running sum —
    shards rank independently in parallel, no global sort."""
    from duckdb_ml_spark.operators.text import quality_score
    from duckdb_ml_spark.operators.textnorm import tokens
    from pyspark.sql.window import Window

    q = quality_score(spark, sf_dir, carry=("source", "text"))
    base = q.select(
        "doc_id", "source", "quality_score",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w_all = Window.partitionBy("source")
    w_rank = Window.partitionBy("source").orderBy(
        F.desc("quality_score"), F.asc("doc_id")
    )
    total = F.sum("n_tokens").over(w_all)
    before = F.coalesce(
        F.sum("n_tokens").over(w_rank.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        "quality_score",
        before.alias("tokens_before"),
        (before < total * fraction).alias("kept"),
    )


def _token_budget_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_budget_selection(spark, sf_dir)


def _token_budget_oracle() -> str:
    from duckdb_ml_spark.operators.text import STOPWORDS, _hits_sql
    from duckdb_ml_spark.operators.textnorm import tokens_sql

    return f"""
WITH t AS (
    SELECT doc_id, source,
           {tokens_sql("text")} AS w,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
    FROM documents
),
q AS (
    SELECT doc_id, source, len(w)::BIGINT AS n_tokens,
           0.4 * (n_alpha::DOUBLE / n_chars)
         + 0.3 * (len(list_distinct(w))::DOUBLE / len(w))
         + 0.3 * ({_hits_sql(STOPWORDS["en"])}::DOUBLE / len(w)) AS quality_score
    FROM t
)
SELECT doc_id, source, n_tokens, quality_score,
       coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY quality_score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tokens_before,
       coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY quality_score DESC, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         < sum(n_tokens) OVER (PARTITION BY source) * {BUDGET_FRACTION} AS kept
FROM q
"""


# --- epoch shuffle / resharding ----------------------------------------------

EPOCH_SHARDS = 8


def epoch_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    n_shards: int = EPOCH_SHARDS,
    seed: str = "epoch0",
    cache_key=None,
) -> DataFrame:
    """(id, shard, pos): deterministic GLOBAL pseudo-random shuffle into
    training shards — the epoch-shuffle step every dataloader pipeline runs
    before writing webdataset/arrayrecord shards. Order key = first 60 bits
    of md5(seed:id) (uniform, engine-portable); shard = key mod n_shards;
    pos = 1-based rank within the shard under (key, id).

    Changing `seed` ('epoch1', …) yields an independent permutation — the
    per-epoch reshuffle without ever materializing a global sort. Scale
    shape: ranks come from plans/orderstats.keyed_global_rank, so below the
    gate this is one window per shard and above it the two-pass range-bucket
    rank — no shard ever sorts on one task. (At write time you'd skip `pos`
    entirely and `repartitionByRange(__h)` straight into shard files; the
    rank form is the manifest/audit variant.)"""
    from duckdb_ml_spark.plans.orderstats import keyed_global_rank

    t = (
        df.select(id_col)
        .withColumn("__h", hash_uint(F.col(id_col), seed, hex_width=15))
        .withColumn("shard", (F.col("__h") % n_shards).cast("int"))
    )
    r = keyed_global_rank(
        t, key="shard", value_col="__h", tiebreak_col=id_col, cache_key=cache_key
    )
    return r.select(
        id_col, "shard", F.col("__rn").cast("bigint").alias("pos")
    )


def _epoch_shuffle_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return epoch_shuffle(
        load(spark, sf_dir, "documents"),
        cache_key=(sf_dir, "documents", "epoch0"),
    )


_EPOCH_SHUFFLE_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           {_hash_uint_sql("doc_id", "epoch0", 15)} AS h
    FROM documents
)
SELECT doc_id, (h % {EPOCH_SHARDS})::INT AS shard,
       row_number() OVER (PARTITION BY h % {EPOCH_SHARDS} ORDER BY h, doc_id)::BIGINT AS pos
FROM t
"""


# --- mixture resampling by per-source weights --------------------------------


def mixture_resample(
    df: DataFrame, weight: Column, id_col: str = "doc_id", salt: str = "mix"
) -> DataFrame:
    """Repeat each row `weight` times in expectation, DETERMINISTICALLY:
    count = floor(w) + (hash_uniform(id) < frac(w)) — the corpus-mixing step
    (Pile/LLaMA-style source reweighting) where w>1 upsamples (integer
    repeats + a fractional bernoulli) and w<1 downsamples. Pure column
    expressions → reproducible on any partitioning, any engine.

    The uniform is 60-bit (hash_uint 15 hex chars / 2^60 — ADVICE r7 low:
    the old bucket/100 form quantized it to 1/100, biasing any weight whose
    fraction is not a multiple of 0.01; at 2^-60 granularity the bias is
    below a part per quintillion). The int→double conversion rounds
    identically under IEEE in every engine, so the comparison stays
    bit-reproducible cross-engine.

    Plan: map-only — count projection, filter count>=1, explode
    sequence(1,count) (the explode guards the empty range: Spark sequence
    DESCENDS when end < start). Output carries a 1-based `replica` index so
    downstream dedup-aware consumers can distinguish intentional repeats."""
    u = hash_uint(F.col(id_col), salt, 15).cast("double") / F.lit(float(1 << 60))
    cnt = (
        F.floor(weight).cast("int")
        + (u < (weight - F.floor(weight))).cast("int")
    )
    return (
        df.withColumn("__cnt", cnt)
        .where(F.col("__cnt") >= 1)
        .withColumn(
            "replica", F.explode(F.sequence(F.lit(1), F.col("__cnt")))
        )
        .drop("__cnt")
    )


def _mixture_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture over the 20-source corpus: weight derived
    deterministically from the source id (0.25 + (n mod 8)·0.5 ∈
    [0.25, 3.75] — exact binary fractions, so floor/frac compare bitwise on
    both engines), exercising both down- and up-sampling."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    w = F.lit(0.25) + (F.substring("source", 4, 8).cast("int") % 8) * F.lit(0.5)
    out = mixture_resample(docs, w)
    return out.select(
        "doc_id", F.col("replica").cast("bigint").alias("replica"), "source"
    )


_MIXTURE_ORACLE = f"""
WITH c AS (
    SELECT doc_id, source,
           (floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END)::INT AS cnt
    FROM (
        SELECT doc_id, source,
               0.25 + (substr(source, 4)::INT % 8) * 0.5 AS wt,
               {_hash_uint_sql("doc_id", "mix", 15)}::DOUBLE / {float(1 << 60)} AS u
        FROM documents
    )
)
SELECT doc_id, unnest(generate_series(1, cnt))::BIGINT AS replica, source
FROM c WHERE cnt >= 1
"""


# --- leakage-safe group-aware split ------------------------------------------


def group_split(
    df: DataFrame, group_col: str, test_pct: int = 20, salt: str = "gsplit"
) -> DataFrame:
    """Train/test split that keeps every GROUP intact on one side (hash the
    group key, not the row id) — the leakage-safe split for near-duplicate-
    heavy corpora: docs from one source are correlated, so a row-level split
    leaks test content into train. Same hash-bucket recipe as
    split_train_test ⇒ reproducible, partition-independent, and exhaustive.

    Scale shape: a stateless per-row expression — no shuffle at all; the
    split column is computable at scan time on 100 TB and works as a
    partition column for the write."""
    b = hash_bucket(F.col(group_col), salt)
    return df.withColumn(
        "split", F.when(b < test_pct, F.lit("test")).otherwise(F.lit("train"))
    )


def _group_split_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Summarized proof row per split: source counts stay disjoint by
    construction (a source's hash lands in exactly one bucket band)."""
    g = group_split(load(spark, sf_dir, "documents"), "source")
    return g.groupBy("split").agg(
        F.countDistinct("source").alias("n_sources"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


_GROUP_SPLIT_ORACLE = f"""
SELECT CASE WHEN {_hash_bucket_sql("source", "gsplit")} < 20
            THEN 'test' ELSE 'train' END AS split,
       count(DISTINCT source) AS n_sources,
       count(*) AS n_docs,
       sum(n_chars)::BIGINT AS sum_chars
FROM documents GROUP BY 1
"""


# --- deterministic per-group uniform k-sample --------------------------------


PSK_GROUP_GATE = 4096  # above this many groups the bounded top-k collect
# (≤ groups·k rows) stops being bounded-by-design; fall back to the rank form


def per_source_uniform_k(
    df: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    group_col: str = "source",
    salt: str = "ksample",
    cache_key=None,
) -> DataFrame:
    """Exactly-k uniform sample per group (fewer if the group is smaller):
    the k docs with the smallest md5(salt:id) hashes — a deterministic
    reservoir (bottom-k by hash ≡ uniform without replacement), the standard
    construction for fixed-size per-source eval holdouts and spot-check
    panels. Reproducible on any partitioning; adding docs to a group only
    ever swaps members at the boundary (hash order is stable).

    r13 THRESHOLD-PREFILTER plan (the r12 two-pass rank form sorted ALL rows
    to keep groups·k — 2.3× vs DuckDB at 256×): a bottom-k member of group g
    has, with overwhelming probability, __h ≤ margin·(k/n_g)·2⁶⁰, so the
    engine (1) aggregates exact per-group counts (partial-agg shuffle of
    |groups| rows, no hashing), (2) scans once computing the hash but keeps
    only rows under the group's threshold (≈ margin·k survivors/group),
    (3) at margin 16 ranks the survivor set on the driver — a collect
    bounded by ~margin·k·groups ≤ 16·k·{PSK_GROUP_GATE} rows in
    expectation (ADVICE r13 corrected the old ≤ groups·k claim), which
    saves the survivor-shuffle window stage the r13 probe measured at
    ~0.5 s of stage overhead at 256×. EXACTNESS is not probabilistic: if
    any group yields fewer than min(k, n_g) survivors (the k-th order
    statistic fell above the threshold — Chernoff-bounded below e⁻¹⁰⁰ at
    margin 16) the margin escalates to 4096 — ranked DISTRIBUTEDLY with a
    window over the still-tiny survivor set, never collected (ADVICE r13:
    4096·k·groups on the driver is an OOM hazard), sufficiency re-checked
    from a ≤|groups|-row count agg — and finally to the unfiltered
    window scan, so the output is always exactly the true bottom-k.
    At 100 TB this is the difference between sorting the corpus and
    scanning it once: rank work is O(survivors), not O(rows).

    Cached size maps are VALIDATED against the data (ADVICE r13/r14), with
    a precise guarantee: (a) a group ABSENT from the map keeps every row
    (coalesce keep-all arm) and is detected in the survivor set; (b) a
    cached group whose survivor count EXCEEDS its cached size — impossible
    under a fresh map, since survivors ⊆ the group's rows — is likewise
    detected; both drop the entry and recompute. Growth that evades both
    detectors cannot corrupt values: a stale SMALLER size only raises that
    group's threshold (the survivor set becomes a downward-closed superset,
    whose bottom-k is exactly the true bottom-k), and any cached size below
    16·k hits the keep-all threshold cap (h < 2^60 always) — so staleness
    erodes only the probabilistic escalation margin (16 → 16·n_old/n_new),
    never the output. Shrinkage likewise only triggers extra escalation
    passes (sufficiency is re-checked against observed survivors).

    Above PSK_GROUP_GATE distinct groups the result is no longer
    bounded-by-design and the two-pass keyed_global_rank form runs instead
    (no group sorts on one task either way)."""
    spark = df.sparkSession
    t = df.select(group_col, id_col).withColumn(
        "__h", hash_uint(F.col(id_col), salt, 15)
    )
    built: list = []

    def group_sizes() -> dict:
        # gate probe rides the same agg: limit(GATE+1) short-circuits the
        # collect if the group column is high-cardinality
        rows = (
            t.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__n"))
            .limit(PSK_GROUP_GATE + 1)
            .collect()
        )
        built.append(True)
        return {r[0]: r[1] for r in rows}

    skey = (cache_key, "psk_sizes", group_col)
    sizes = memo(spark, skey, group_sizes, keep=lambda m: len(m) <= PSK_GROUP_GATE)
    from_cache = not built
    if len(sizes) > PSK_GROUP_GATE:
        from duckdb_ml_spark.plans.orderstats import keyed_global_rank

        r = keyed_global_rank(
            t, key=group_col, value_col="__h", tiebreak_col=id_col,
            cache_key=cache_key,
        )
        return r.where(F.col("__rn") <= k).select(
            group_col, id_col, F.col("__rn").cast("bigint").alias("pos")
        )

    n_total = sum(sizes.values())
    from duckdb_ml_spark.plans.orderstats import RANK_WINDOW_GATE

    if None in sizes:
        # a NULL group key would silently vanish in the threshold branch
        # (map[NULL] → NULL → filter false) while the window branch keeps
        # NULL as its own partition — force the window form so both
        # branches agree on NULL semantics (self-review r13)
        n_total = 0
    if n_total <= RANK_WINDOW_GATE:
        # small corpus: one window job beats the threshold pipeline's extra
        # stats/collect stages (r13a pair: 0.12 s windowed vs 0.44 s
        # thresholded at sf0.1's 5k docs; the threshold path wins 256×
        # onward where sorting all rows is the cost) — same gate constant
        # as keyed_global_rank, the measured crossover family
        from pyspark.sql import Window

        w = Window.partitionBy(group_col).orderBy("__h", id_col)
        return (
            t.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .select(group_col, id_col, F.col("__rn").cast("bigint").alias("pos"))
        )

    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            df.schema[group_col],
            df.schema[id_col],
            StructField("pos", LongType(), False),
        ]
    )

    def _thresholded(margin: int) -> DataFrame:
        thr = F.create_map(
            *[
                x
                for g, n in sizes.items()
                for x in (
                    F.lit(g),
                    F.lit(min(1 << 60, (margin * k * (1 << 60)) // max(n, 1))),
                )
            ]
        )
        # coalesce keep-all arm: a group ABSENT from the size map (stale
        # cache — ADVICE r13) keeps every row instead of being silently
        # dropped by the NULL map lookup, so staleness is DETECTABLE from
        # the survivors; with fresh sizes the arm is dead code
        return t.where(
            F.col("__h") <= F.coalesce(thr[F.col(group_col)], F.lit(1 << 60))
        )

    # margin-16 pass: survivors ≈ 16·k per group in expectation (Binomial,
    # tightly concentrated under a uniform hash) — small enough to rank on
    # the driver, which saves the survivor-shuffle window stage the r13
    # probe measured at ~0.5 s of pure stage overhead at 256×
    surv = _thresholded(16).select(group_col, id_col, "__h").collect()
    by_g: dict = {}
    for r in surv:
        by_g.setdefault(r[0], []).append((r[2], r[1]))
    if from_cache and (
        any(g not in sizes for g in by_g)
        or any(len(v) > sizes.get(g, 0) for g, v in by_g.items())
    ):
        # the cached size map is stale — a group exists that it has no
        # threshold for, or a group produced MORE survivors than its cached
        # total row count (impossible under a fresh map: survivors ⊆ group,
        # so this deterministically catches grown groups — ADVICE r14).
        # Drop the entry and recompute from scratch (one retry; the fresh
        # map cannot be stale against the same scan).
        drop(skey)
        return per_source_uniform_k(
            df, k=k, id_col=id_col, group_col=group_col, salt=salt,
            cache_key=cache_key,
        )
    if all(len(by_g.get(g, ())) >= min(k, n) for g, n in sizes.items()):
        got = []
        for g in by_g:
            for pos, (_, i) in enumerate(sorted(by_g[g])[:k], start=1):
                got.append((g, i, pos))
        return spark.createDataFrame(got, out_schema)

    # margin-4096 escalation (P < e⁻¹⁰⁰ per group that margin 16 missed the
    # k-th order statistic): ~4096·k·groups expected survivors is a
    # driver-OOM hazard (ADVICE r13), so this pass ranks DISTRIBUTEDLY —
    # sufficiency from a ≤|groups|-row count agg, then one window over the
    # survivor set (still ≪ the corpus)
    from pyspark.sql import Window

    cand = _thresholded(4096)
    cnts = {
        r[0]: r[1]
        for r in cand.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    if all(cnts.get(g, 0) >= min(k, n) for g, n in sizes.items()) and not any(
        g not in sizes for g in cnts
    ):
        w = Window.partitionBy(group_col).orderBy("__h", id_col)
        return (
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .select(group_col, id_col, F.col("__rn").cast("bigint").alias("pos"))
        )
    # margin 4096 still insufficient (P < e⁻¹⁰⁰⁰⁰ under a uniform hash, i.e.
    # an adversarial id→hash distribution): the exact distributed rank form
    # never collects more than the final top-k
    w = Window.partitionBy(group_col).orderBy("__h", id_col)
    return (
        t.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .select(group_col, id_col, F.col("__rn").cast("bigint").alias("pos"))
    )


def _per_source_k_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return per_source_uniform_k(
        load(spark, sf_dir, "documents"),
        cache_key=(sf_dir, "documents", "ksample"),
    )


_PER_SOURCE_K_ORACLE = f"""
WITH t AS (
    SELECT source, doc_id,
           {_hash_uint_sql("doc_id", "ksample", 15)} AS h
    FROM documents
),
r AS (
    SELECT source, doc_id,
           row_number() OVER (PARTITION BY source ORDER BY h, doc_id)::BIGINT AS pos
    FROM t
)
SELECT source, doc_id, pos FROM r WHERE pos <= 10
"""


# --- curriculum mixture scheduling over epochs -------------------------------

CUR_EPOCHS = 5  # epoch fraction e/(E-1) ∈ {0, ¼, ½, ¾, 1} — exact binary


def curriculum_counts(
    df: DataFrame,
    weight_target: Column,
    id_col: str = "doc_id",
    epochs: int = CUR_EPOCHS,
    salt: str = "cur",
) -> DataFrame:
    """Per-(row, epoch) replica counts under a linearly ANNEALED mixture
    weight: epoch 0 samples every source uniformly (w=1), the final epoch
    samples at the target mixture weight, and intermediate epochs interpolate
    — the curriculum/annealing schedule of a multi-epoch pretraining run
    (start broad, converge to the tuned mixture).

    w_e = 1 + (e/(E-1))·(w_target − 1); count = floor(w_e) + bernoulli(frac)
    with the bernoulli uniform for epoch e drawn from bits [12e, 12e+11] of
    ONE 60-bit hash_uint(salt:id) — five disjoint 12-bit windows of a
    single digest are independent uniforms (md5 output bits are uniform and
    independent), so consecutive epochs still never repeat the same
    fractional-row choices (mixture_resample's contract), while the corpus
    is HASHED ONCE instead of once per epoch. r13 probe: the per-epoch
    md5(salt‖e‖':'‖id) form priced E full digest+hex-parse passes over the
    corpus (77M md5+conv evaluations at 256× for E=5; conv — a per-char
    string parse — measured as the dominant term) — at 100 TB the digest
    pass IS the query, so one digest + one parse + two ALU ops per epoch is
    a 5× cut in the dominant term. 12-bit uniforms lose nothing: frac(w_e)
    is an exact multiple of 1/64 (see below), so P(u < frac) is exactly
    frac for any uniform with ≥6 bits. E ≤ 5 fits the 60-bit value; larger
    E falls back to the per-epoch digest.

    Determinism contract: with E-1 a power of two and w_target built from
    exact binary fractions, every w_e (and its floor/frac) is an exact
    double on any IEEE engine; the uniform is an exact int64/2^60 quotient.

    Scale shape: one scan — the epoch dimension is an in-row explode (E× map
    output, no shuffle), counts are pure column expressions; only the final
    per-(epoch, source) rollup aggregates. At 100 TB this prices E epochs of
    mixture schedule in a single pass over the corpus manifest."""
    if epochs <= 5:
        # one digest AND one hex→int conv per ROW (the r13 probe measured
        # conv — a per-char string parse — as the dominant term at 5×/row:
        # 0.8 s of curriculum's 1.26 s at 256×); the 60-bit value is then
        # sliced into per-epoch 12-bit uniforms with pure integer shifts,
        # which whole-stage codegen compiles to two ALU ops per epoch
        h60 = hash_uint(F.col(id_col), salt, 15)
        us = F.array(
            *[
                (F.shiftright(h60, 12 * e).bitwiseAND(F.lit(4095)))
                .cast("double")
                / F.lit(4096.0)
                for e in range(int(epochs))
            ]
        )
        t = df.select("*", F.posexplode(us).alias("epoch", "__u"))
        u = F.col("__u")
    else:  # epochs > 5 exceed one 32-hex digest: per-epoch digest fallback
        t = df.withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), F.lit(int(epochs) - 1)))
        )
        u = (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(salt),
                            F.col("epoch").cast("string"),
                            F.lit(":"),
                            F.col(id_col).cast("string"),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            .cast("double")
            / F.lit(float(1 << 60))
        )
    frac_e = F.col("epoch").cast("double") / F.lit(float(epochs - 1))
    w = F.lit(1.0) + frac_e * (weight_target - F.lit(1.0))
    cnt = F.floor(w).cast("int") + (u < (w - F.floor(w))).cast("int")
    return t.withColumn("__w", w).withColumn("__cnt", cnt)


def _curriculum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(epoch, source) schedule table over the 20-source corpus: the
    target weight is the mixture query's deterministic 0.25..3.75 ramp, so
    epoch 0 is uniform and epoch 4 equals sample_mixture_resample's rates.
    Hashed output is integer-only: w_x16 (the scheduled weight in exact
    sixteenths), docs selected ≥1×, and total replica rows.

    r13 COLUMNS-NOT-ROWS rollup, value-identical to the exploded form (same
    u/w/cnt per (doc, epoch); the gate hash is unchanged vs the explode
    plan): the schedule's epoch dimension is tiny and FIXED, so instead of
    exploding the corpus E× and aggregating 5·N rows, the plan computes the
    E per-epoch counts as E column pairs over the unexploded corpus (one
    scan, 2E+… sums that all partial-aggregate map-side) and unpivots the
    |sources|-row result with a stack() — the 77M-row aggregation at 256×
    becomes a 15.4M-row one; at 100 TB the explode tax is the whole query.
    curriculum_counts (the general per-row operator) keeps the exploded
    row-stream contract for consumers that materialize replicas."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    wt = F.lit(0.25) + (F.substring("source", 4, 8).cast("int") % 8) * F.lit(0.5)
    E = CUR_EPOCHS
    h60 = hash_uint(F.col("doc_id"), "cur", 15)
    aggs = []
    for e in range(E):
        u = (
            F.shiftright(h60, 12 * e).bitwiseAND(F.lit(4095)).cast("double")
            / F.lit(4096.0)
        )
        w = F.lit(1.0) + (F.lit(float(e)) / F.lit(float(E - 1))) * (wt - F.lit(1.0))
        cnt = F.floor(w).cast("int") + (u < (w - F.floor(w))).cast("int")
        aggs.append(F.sum((cnt >= 1).cast("int")).cast("bigint").alias(f"nd{e}"))
        aggs.append(F.sum(cnt).cast("bigint").alias(f"nr{e}"))
        aggs.append((F.max(w) * 16).cast("int").alias(f"wx{e}"))
    g = docs.groupBy("source").agg(*aggs)
    stacked = ", ".join(
        f"{e}L, wx{e}, nd{e}, nr{e}" for e in range(E)
    )
    return g.select(
        "source",
        F.expr(
            f"stack({E}, {stacked}) AS (epoch, w_x16, n_docs, n_rows)"
        ),
    ).select("epoch", "source", "w_x16", "n_docs", "n_rows")


_CURRICULUM_ORACLE = f"""
WITH d AS (
    SELECT doc_id, source,
           0.25::DOUBLE + (substr(source, 4)::INT % 8) * 0.5::DOUBLE AS wt
    FROM documents
),
x AS (
    -- ONE digest + ONE hex parse per doc; epoch e reads bits [12e, 12e+11]
    -- of the 60-bit value — the same disjoint-window 12-bit uniforms as
    -- curriculum_counts (r13)
    SELECT epoch, source,
           1.0::DOUBLE + (epoch::DOUBLE / {float(CUR_EPOCHS - 1)}) * (wt - 1.0::DOUBLE) AS w,
           (({_hash_uint_sql("doc_id", "cur", 15)} >> (12 * epoch)) & 4095)::DOUBLE
               / 4096.0 AS u
    FROM d CROSS JOIN (SELECT unnest(generate_series(0, {CUR_EPOCHS - 1})) AS epoch)
),
c AS (
    SELECT epoch, source, w,
           (floor(w) + CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END)::INT AS cnt
    FROM x
)
SELECT epoch, source,
       (max(w) * 16)::INT AS w_x16,
       sum(CASE WHEN cnt >= 1 THEN 1 ELSE 0 END)::BIGINT AS n_docs,
       sum(cnt)::BIGINT AS n_rows
FROM c GROUP BY epoch, source
"""


QUERIES: dict[str, QuerySpec] = {
    "sample_per_source_k": QuerySpec(
        "sample_per_source_k", _per_source_k_q, _PER_SOURCE_K_ORACLE,
        doc="Deterministic per-source uniform k-sample (bottom-k by hash — "
        "the reservoir construction for fixed-size eval holdouts), ranks "
        "via the gated two-pass keyed rank.",
        tags=("sampling", "pipeline", "holdout"),
    ),
    "sample_curriculum": QuerySpec(
        "sample_curriculum", _curriculum_q, _CURRICULUM_ORACLE,
        doc="Curriculum mixture schedule: per-epoch source weights annealed "
        "uniform → target over 5 epochs, fresh per-epoch bernoulli draws; "
        "one-scan explode plan, integer-only hashed output.",
        tags=("sampling", "pipeline", "mixing", "curriculum"),
    ),
    "sample_group_split": QuerySpec(
        "sample_group_split", _group_split_q, _GROUP_SPLIT_ORACLE,
        doc="Leakage-safe group-aware 80/20 split (hash the source, not the "
        "row — correlated docs never straddle the split).",
        tags=("sampling", "split", "pipeline"),
    ),
    "sample_epoch_shuffle": QuerySpec(
        "sample_epoch_shuffle", _epoch_shuffle_q, _EPOCH_SHUFFLE_ORACLE,
        doc="Deterministic global epoch shuffle into training shards "
        "(hash order key -> shard + within-shard rank via the gated "
        "two-pass rank; per-epoch reseed = new permutation).",
        tags=("sampling", "pipeline", "shuffle"),
    ),
    "sample_mixture_resample": QuerySpec(
        "sample_mixture_resample", _mixture_q, _MIXTURE_ORACLE,
        doc="Deterministic source-weighted mixture resampling (floor + "
        "fractional-bernoulli repeats, replica index carried) — the corpus "
        "mixing step of a pretraining data pipeline.",
        tags=("sampling", "pipeline", "mixing"),
    ),
    "sample_token_budget": QuerySpec(
        "sample_token_budget", _token_budget_q, _token_budget_oracle(),
        doc="Quality-ranked token-budget selection: per source, keep the best "
        "docs until 50% of the shard's tokens are spent (budgeted curation).",
        tags=("sampling", "quality", "pipeline"),
    ),
    "sample_length_buckets": QuerySpec(
        "sample_length_buckets", _length_buckets_q, _length_buckets_oracle(),
        doc="Equal-frequency token-length tiers with padding-waste rollup "
        "(inference batch-bucketing decision table).",
        tags=("sampling", "batching", "pipeline"),
    ),
    "sample_importance": QuerySpec(
        "sample_importance", _importance_q, _importance_oracle(),
        doc="Quality-weighted importance sampling (per-row keep probability, "
        "deterministic hash-uniform) with per-source audit rollup.",
        tags=("sampling", "pipeline", "text"),
    ),
    "sample_temperature": QuerySpec(
        "sample_temperature", _temperature_q, _TEMPERATURE_ORACLE,
        doc="Deterministic temperature (τ=0.5) source resampling: rate table + kept counts.",
        tags=("sampling", "pipeline"),
    ),
    "sample_split_train_test": QuerySpec(
        "sample_split_train_test", _split_q, _SPLIT_ORACLE,
        doc="Reproducible hash-bucket 80/20 split (disjoint, partition-independent).",
        tags=("sampling",),
    ),
    "sample_stratified": QuerySpec(
        "sample_stratified", _stratified_q, _STRATIFIED_ORACLE,
        doc="Deterministic stratified downsample (30% of 'en', all others kept).",
        tags=("sampling",),
    ),
}
