"""Deduplication operators for LLM-data pipelines (BASELINE.json north star).

Five families, each a `queries()` entry with a DuckDB oracle on `documents` /
`embeddings`:

- exact:        md5(normalized text) group-keys, keep min(doc_id) — ONE shuffle.
- MinHash+LSH:  word-3-gram shingles → one md5 per shingle → k=16 affine
                permutation minima → 4 bands → bucket self-join →
                estimated-Jaccard filter. The classic near-dup path: candidate
                generation never compares all pairs, so it scales to 100 TB
                (band join only collides near-dups).
- SimHash:      60-bit sign-of-weighted-bits fingerprint; near-dups differ in
                few bits. SQL-expressible via a 60-row bit table (JVM-side).
- n-gram Jaccard: exact set overlap via shingle self-join — the verifier for
                LSH candidates (quadratic in colliding docs; use after LSH at scale).
- embedding cosine: near-dup pairs above a cosine threshold over `embeddings`.

Determinism contract: all hashing bottoms out in md5-of-string (identical in
Spark and DuckDB); minhash permutations are affine maps over Z_(2^31-1) of the
md5's low 60 bits — exact int64 arithmetic both engines agree on bit-for-bit.
For raw throughput at scale, `minhash_signatures(..., hash_fn="xxhash64")`
swaps in the cheaper 64-bit JVM hash (same plan shape, no oracle parity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_ml_spark.memo import memo
from duckdb_ml_spark.operators.textnorm import (
    exploded_shingles,
    norm_text,
    norm_text_sql,
    shingles_from_tokens,
    tokens,
    tokens_sql,
)
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

MINHASH_K = 16
BAND_SIZE = 4
N_BANDS = MINHASH_K // BAND_SIZE
MAX_COLLECT_PAIRS = 2_000_000  # two int64s/row → ≤32 MB driver footprint

# One md5 per shingle + k affine permutations over Z_p (p = 2^31-1) instead of
# k md5s per shingle: h = low-60-bits(md5(shingle)) % p, mh_i = min(a_i·h+b_i mod p).
# The classic universal-hash minhash family — 16× less hashing on BOTH engines,
# and every operation is exact int64 arithmetic the two engines agree on
# bit-for-bit (a·h+b ≤ (2^31-2)² + 2^31 < 2^63, no overflow).
MINHASH_P = (1 << 31) - 1
import random as _random

_rng = _random.Random(0xD1CE)
MINHASH_COEF = [(_rng.randrange(1, MINHASH_P), _rng.randrange(MINHASH_P)) for _ in range(MINHASH_K)]
del _rng

# Shared oracle CTE fragments ------------------------------------------------

_SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {tokens_sql("text")} AS w FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
)
"""

_HASHED_CTE = (
    "hashed AS (SELECT doc_id, "
    f"('0x' || substr(md5(shingle), 1, 15))::BIGINT % {MINHASH_P} AS h FROM sh)"
)
_SIG_SELECT = ", ".join(
    f"min(({a} * h + {b}) % {MINHASH_P}) AS mh{i:02d}"
    for i, (a, b) in enumerate(MINHASH_COEF)
)
_SIG_CTE = f"{_HASHED_CTE}, sig AS (SELECT doc_id, {_SIG_SELECT} FROM hashed GROUP BY doc_id)"


# --- exact dedup -------------------------------------------------------------


def exact_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct normalized text."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.md5(norm_text(F.col("text"))).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """API form: drop exact duplicates, keeping the lowest id per normalized text.

    Window-free: a groupBy(min_id) + semi-join back, so the only wide exchange is
    on the 128-bit text hash (uniform — no skew) and the full text never shuffles.
    """
    keys = (
        df.select(F.md5(norm_text(F.col(text_col))).alias("__h"), F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keys.select(id_col), on=id_col, how="left_semi")


# --- MinHash -----------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = MINHASH_K,
    hash_fn: str = "md5",
) -> DataFrame:
    """k minhashes per doc in ONE explode + ONE groupBy (k min-aggs share the pass).

    hash_fn="md5": ONE md5 per shingle (low 60 bits mod 2^31-1) + k affine
    permutations (a_i·h + b_i mod p), min-aggregated — exact-integer DuckDB
    parity at 1/k of the hashing cost.
    hash_fn="xxhash64": numeric min over 64-bit JVM hashes — the 100 TB path
    (no md5 at all, pure JVM hash).

    Deliberately the EXPLODED formulation: an array-transform variant
    (k × array_min(transform(...)) with no shuffle) measures ~10× SLOWER —
    Spark evaluates higher-order-function lambdas interpreted, per element,
    outside whole-stage codegen, and projection collapse re-inlines the hashed
    array into all k permutations. The explode keeps md5 + the affine maps
    inside codegen.

    The input is repartitioned by id FIRST: doc_id hash-partitioning satisfies
    the aggregate's clustered-distribution requirement, so the explode and the
    k-min aggregation run in one colocated pass — the exchange moves compact
    doc rows, never the k-column partial-aggregate stream (measured 3.0x:
    0.67 s → 0.23 s at sf0.1; the win grows with k and shingles/doc).
    """
    sh = exploded_shingles(df.repartition(id_col), text_col=text_col, id_col=id_col)
    # expression trees are built as SQL STRINGS (one py4j round trip each, via
    # F.expr) rather than composed Column objects: the k-column Column-API form
    # costs ~100 driver round trips to BUILD, a measurable slice of small-query
    # wall time (tools: build-only profiling); the parsed plan is identical
    if hash_fn == "md5":
        sh = sh.selectExpr(
            id_col,
            f"CAST(conv(substring(md5(shingle), 1, 15), 16, 10) AS BIGINT) % {MINHASH_P}L AS __h",
        )
        aggs = [
            F.expr(f"min(({a}L * __h + {b}L) % {MINHASH_P}L) AS mh{i:02d}")
            for i, (a, b) in enumerate(MINHASH_COEF[:k])
        ]
    elif hash_fn == "xxhash64":
        aggs = [F.expr(f"min(xxhash64({i}, shingle)) AS mh{i:02d}") for i in range(k)]
    else:
        raise ValueError(f"unknown hash_fn '{hash_fn}'")
    return sh.groupBy(id_col).agg(*aggs)


def _minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signatures(load(spark, sf_dir, "documents"))


def lsh_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    band_size: int = BAND_SIZE,
    k: int = MINHASH_K,
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs colliding in ≥1 LSH band — the candidate
    generation stage shared by the estimated filter (minhash_lsh_pairs) and the
    exact verifier (ngram_jaccard_pairs). Only bucket-colliding docs are ever
    paired, so this is linear-ish in docs, not quadratic."""
    n_bands = k // band_size
    bands = sig.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[f"mh{b * band_size + j:02d}" for j in range(band_size)]
                            )
                        ).alias("bh"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bh")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b"))
        .distinct()
    )
    return cand


def minhash_lsh_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.3,
    band_size: int = BAND_SIZE,
    k: int = MINHASH_K,
) -> DataFrame:
    """LSH banding with the estimate computed INSIDE the band self-join.

    The banded rows CARRY their full k-column signature, so the estimated
    Jaccard (= fraction of equal minhashes) is a projection of the join output
    — no second/third join back onto `sig`, no broadcast stage, no persist.
    The two self-join branches are identical up to the shuffle, so Spark's
    ReuseExchange materializes the banded signature exchange ONCE (verified in
    the plan: one Exchange, two ReusedExchange readers). A multi-band collision
    emits the same (doc_a, doc_b, est) row per band — est is deterministic per
    pair — so the final distinct over the triple equals the distinct-candidates
    form. One shuffle for the band join + one for distinct; signatures carried
    in-band are k·8 bytes — at 100 TB the exchange moves signatures once,
    exactly like a checkpointed signature table would."""
    n_bands = k // band_size
    mh_cols = [f"mh{i:02d}" for i in range(k)]
    band_structs = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', {cat})) AS bh)".format(
            b=b, cat=", ".join(f"mh{b * band_size + j:02d}" for j in range(band_size))
        )
        for b in range(n_bands)
    )
    # single-string selectExpr: one parse instead of ~100 Column round trips
    bands = sig.selectExpr(
        id_col, *mh_cols, f"explode(array({band_structs})) AS bb"
    ).selectExpr(id_col, *mh_cols, "bb.band", "bb.bh")
    a, b = bands.alias("a"), bands.alias("b")
    est = " + ".join(
        f"(CASE WHEN a.mh{i:02d} = b.mh{i:02d} THEN 1 ELSE 0 END)" for i in range(k)
    )
    joined = a.join(
        b,
        F.expr(f"a.band = b.band AND a.bh = b.bh AND a.{id_col} < b.{id_col}"),
    )
    return (
        joined.selectExpr(
            f"a.{id_col} AS doc_a",
            f"b.{id_col} AS doc_b",
            f"CAST({est} AS DOUBLE) / {float(k)} AS est_jaccard",
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


NEW_MOD = 10  # pseudo "incoming batch": doc_id % NEW_MOD == 0


def incremental_lsh_pairs(
    new_sig: DataFrame,
    corpus_sig: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.3,
    band_size: int = BAND_SIZE,
    k: int = MINHASH_K,
) -> DataFrame:
    """(new_doc_id, dup_of, est_jaccard): near-dups of an INCOMING batch
    against the EXISTING corpus — incremental dedup, the operation a running
    pipeline actually performs on every ingest. Only the new batch is
    signatured fresh; the corpus side is the maintained signature table
    (here passed as a DataFrame; at 100 TB a banded table partitioned by
    (band, bh), so the join prunes to the new batch's buckets). Cost is
    O(new·bands + colliding buckets) — never O(corpus²) and never old×old.

    Same banding/estimate math as minhash_lsh_pairs; no id ordering predicate
    because the sides are disjoint."""

    def banded(sig):
        n_bands = k // band_size
        mh_cols = [f"mh{i:02d}" for i in range(k)]
        band_structs = ", ".join(
            "struct({b} AS band, md5(concat_ws('|', {cat})) AS bh)".format(
                b=b, cat=", ".join(f"mh{b * band_size + j:02d}" for j in range(band_size))
            )
            for b in range(n_bands)
        )
        return sig.selectExpr(
            id_col, *mh_cols, f"explode(array({band_structs})) AS bb"
        ).selectExpr(id_col, *mh_cols, "bb.band", "bb.bh")

    a, b = banded(new_sig).alias("a"), banded(corpus_sig).alias("b")
    est = " + ".join(
        f"(CASE WHEN a.mh{i:02d} = b.mh{i:02d} THEN 1 ELSE 0 END)" for i in range(k)
    )
    return (
        a.join(b, F.expr("a.band = b.band AND a.bh = b.bh"))
        .selectExpr(
            f"a.{id_col} AS new_doc_id",
            f"b.{id_col} AS dup_of",
            f"CAST({est} AS DOUBLE) / {float(k)} AS est_jaccard",
        )
        .where(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def _dedup_incremental_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(load(spark, sf_dir, "documents"))
    return incremental_lsh_pairs(
        sig.where(F.col("doc_id") % NEW_MOD == 0),
        sig.where(F.col("doc_id") % NEW_MOD != 0),
    )


def _dedup_incremental_oracle() -> str:
    est = " + ".join(f"(sa.mh{i:02d} = sb.mh{i:02d})::INT" for i in range(MINHASH_K))
    return f"""
    WITH {_cand_ctes()}
    SELECT DISTINCT a.doc_id AS new_doc_id, b.doc_id AS dup_of,
           ({est})::DOUBLE / {MINHASH_K}.0 AS est_jaccard
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bh = b.bh
       AND a.doc_id % {NEW_MOD} = 0 AND b.doc_id % {NEW_MOD} != 0
    JOIN sig sa ON sa.doc_id = a.doc_id
    JOIN sig sb ON sb.doc_id = b.doc_id
    WHERE ({est})::DOUBLE / {MINHASH_K}.0 >= 0.3
    """


MAX_COLLECT_DOCS = 65536  # signature-collect gate: k·8 B/doc → ≤ ~9 MB driver


def _collect_signatures(spark: SparkSession, sf_dir: str):
    """(ids, k-col minhash matrix) via ONE bounded collect of the signature
    relation — the driver-side twin of collect_matrix for embeddings. Returns
    None above the gate (at 100 TB signatures are a checkpointed TABLE, not a
    collectable; callers then use the banded shuffle plans).

    Memoized per (session, sf_dir) — the signatures of a corpus are a
    dataset property, like collect_matrix / corpus_shingles /
    bpe.budget_merges: six queries (clusters, keep_docs,
    keep_best, lsh_pairs, ngram_jaccard, tfidf_rescore) consume the SAME
    signature table, which is exactly the precomputed artifact the 100 TB
    docstring above describes."""
    return memo(spark, (sf_dir, "minhash_sigs"), lambda: _build_signatures(spark, sf_dir))


def _build_signatures(spark: SparkSession, sf_dir: str):
    import numpy as np

    docs = load(spark, sf_dir, "documents")
    if _cached_count(docs, (sf_dir, "documents", "rowcount")) > MAX_COLLECT_DOCS:
        return None
    rows = minhash_signatures(docs).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    mh = np.array([[r[i + 1] for i in range(MINHASH_K)] for r in rows], dtype=np.int64)
    return ids, mh


def _driver_lsh_pairs(ids, mh, threshold: float | None, max_pairs: int = MAX_COLLECT_PAIRS):
    """Banded LSH candidate pairs (+ est filter when threshold is not None)
    from collected signatures, in plain Python/NumPy. Identical output to the
    banded self-join plan: band equality is compared on the raw minhash
    TUPLES, which the plan's md5(concat) band hash represents injectively
    (modulo md5 collision — which would only ever ADD a candidate there).
    Returns None if the candidate set exceeds max_pairs (adversarial band
    config) — callers fall back to the distributed plan."""
    from collections import defaultdict

    k = mh.shape[1]
    cand: set = set()
    for b in range(N_BANDS):
        groups = defaultdict(list)
        lo, hi = b * BAND_SIZE, (b + 1) * BAND_SIZE
        for i in range(len(ids)):
            groups[tuple(mh[i, lo:hi])].append(i)
        for g in groups.values():
            if len(g) > 1:
                for x in range(len(g)):
                    for y in range(x + 1, len(g)):
                        i, j = g[x], g[y]
                        pair = (i, j) if ids[i] < ids[j] else (j, i)
                        cand.add(pair)
                        if len(cand) > max_pairs:
                            return None
    out = []
    for i, j in cand:
        est = float((mh[i] == mh[j]).sum()) / k
        if threshold is None:
            out.append((int(ids[i]), int(ids[j]), est))
        elif est >= threshold:
            out.append((int(ids[i]), int(ids[j]), est))
    return out


def _minhash_lsh_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded corpora: ONE signature-collect job + driver band grouping (the
    verify_pairs_cosine strategy-pair pattern; equivalence pytest-proven).
    Larger: the banded self-join plan."""
    sigs = _collect_signatures(spark, sf_dir)
    if sigs is not None:
        out = _driver_lsh_pairs(*sigs, threshold=0.3)
        if out is not None:
            return spark.createDataFrame(
                out or [], "doc_a bigint, doc_b bigint, est_jaccard double"
            )
    return minhash_lsh_pairs(_minhash_signatures_q(spark, sf_dir))


def _cand_ctes() -> str:
    """Shared oracle CTE chain: shingles → one-md5 signatures → bands → distinct
    LSH candidate pairs (mirrors lsh_candidate_pairs exactly)."""
    band_rows = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
            b=b,
            cat=" || '|' || ".join(f"mh{b * BAND_SIZE + j:02d}" for j in range(BAND_SIZE)),
        )
        for b in range(N_BANDS)
    )
    return f"""{_SHINGLES_CTE}, {_SIG_CTE},
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )"""


def _minhash_lsh_oracle() -> str:
    est = " + ".join(f"(sa.mh{i:02d} = sb.mh{i:02d})::INT" for i in range(MINHASH_K))
    return f"""
    WITH {_cand_ctes()}
    SELECT doc_a, doc_b, ({est})::DOUBLE / {MINHASH_K}.0 AS est_jaccard
    FROM cand JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
    WHERE ({est})::DOUBLE / {MINHASH_K}.0 >= 0.3
    """


# --- SimHash -----------------------------------------------------------------


def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (token-occurrence weighted sign bits).

    Token hash = first 15 hex chars of md5 parsed as int (both engines agree).
    One groupBy with 60 sum columns — no row blowup (vs. the naive tokens ×
    bit-table crossJoin, which multiplies the token stream 60× before
    aggregating). `h` is materialized in its own projection so the md5 runs
    once per token, not once per bit. Docs are repartitioned by doc_id BEFORE
    the explode: the aggregation's distribution requirement is then already
    satisfied, so the 60-column aggregate runs in one colocated pass and the
    only exchange moves compact doc rows, not 60-column partials."""
    docs = load(spark, sf_dir, "documents").repartition("doc_id")
    toks = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    # SQL-string expressions: the 60-agg + 60-term Column-API form costs ~500
    # driver round trips to build (a measurable slice of wall time); F.expr
    # parses each in one call — identical plan
    hashed = toks.selectExpr(
        "doc_id", "CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT) AS h"
    )
    per_bit = hashed.groupBy("doc_id").agg(
        *[
            F.expr(f"sum(CASE WHEN h & {1 << b}L != 0 THEN 1 ELSE -1 END) AS s{b:02d}")
            for b in range(60)
        ]
    )
    simhash = " + ".join(
        f"(CASE WHEN s{b:02d} > 0 THEN {1 << b}L ELSE 0L END)" for b in range(60)
    )
    return per_bit.selectExpr("doc_id", f"{simhash} AS simhash")


_SIMHASH_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest({tokens_sql("text")}) AS tok FROM documents
),
hashed AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
bits AS (SELECT b, (1::BIGINT << b) AS p FROM generate_series(0, 59) AS t(b)),
per_bit AS (
    SELECT doc_id, p, sum(CASE WHEN (h & p) != 0 THEN 1 ELSE -1 END) AS s
    FROM hashed, bits
    GROUP BY doc_id, p
)
SELECT doc_id, sum(CASE WHEN s > 0 THEN p ELSE 0 END)::BIGINT AS simhash
FROM per_bit GROUP BY doc_id
"""


# --- exact n-gram Jaccard ----------------------------------------------------


def exact_jaccard_for_pairs(
    pairs: DataFrame, sets: DataFrame, threshold: float = 0.05
) -> DataFrame:
    """Exact Jaccard over distinct shingle sets, computed ONLY for the given
    (doc_a, doc_b) pairs. Work is O(|pairs| · shingles/doc) — the verify stage
    after candidate generation, never all-pairs.

    `sets` is a (doc_id, __ss: array<string>) relation of per-doc DISTINCT
    shingle sets built by the CALLER on the candidate-restricted docs (joins
    do not push below expensive projections — restricting after `sets` would
    evaluate the shingle arrays corpus-wide; see ngram_jaccard_pairs, which
    restricts with a scan-pushed isin filter). The tiny pair list joins each
    side's array and JVM `array_intersect`/`size` score it — ZERO shuffles
    (the exploded formulation costs three; an extra semi-join here would cost
    a broadcast-subplan job per run for a restriction the inner joins already
    apply)."""
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("__ss").alias("__sa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("__ss").alias("__sb"))
    i = F.size(F.array_intersect("__sa", "__sb"))
    jac = i.cast("double") / (F.size("__sa") + F.size("__sb") - i)
    return (
        F.broadcast(pairs)
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def shingle_sets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, __ss) per-doc distinct shingle sets as ONE narrow projection
    (tokenize → n-gram transform → array_distinct) — no explode, no shuffle."""
    toked = df.select(F.col(id_col), tokens(F.col(text_col)).alias("__w"))
    return toked.select(
        id_col, F.array_distinct(shingles_from_tokens(F.col("__w"))).alias("__ss")
    )


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.05) -> DataFrame:
    """LSH-candidates → exact-Jaccard verify: the canonical two-stage near-dup
    pipeline (banding generates candidates, exact set overlap confirms them).

    This is the 100 TB shape — the exact verifier only ever touches
    bucket-colliding pairs, so total cost is candidate-bounded, not O(docs²).
    (Round 1 ran the verifier corpus-wide as a shingle self-join: correct at
    small sf, quadratic in docs-per-shingle at scale.)

    The candidate list feeds the verify DAG from three branches (both join
    sides + the doc restriction). With sane band configs it is orders smaller
    than the corpus, so it is materialized ONCE with a bounded short-circuit
    collect (limit(cap+1)) and re-enters the plan as a local relation — one
    job, zero recompute races, no persist+count barrier. Above the cap (an
    over-wide band config) it falls back to the persisted-candidates plan."""
    docs = load(spark, sf_dir, "documents")
    rows = None
    sigs = _collect_signatures(spark, sf_dir)
    if sigs is not None:  # bounded corpus: one sig-collect job + driver banding
        out = _driver_lsh_pairs(*sigs, threshold=None)
        if out is not None:
            rows = [(a, b) for a, b, _ in out]
    if rows is None:
        cand_plan = lsh_candidate_pairs(minhash_signatures(docs))
        collected = cand_plan.limit(MAX_COLLECT_PAIRS + 1).collect()
        if len(collected) <= MAX_COLLECT_PAIRS:
            rows = [(r.doc_a, r.doc_b) for r in collected]
    # restrict the corpus BEFORE building shingle arrays: a semi-join placed
    # after the sets projection would not push below it (Catalyst moves
    # filters, not joins, through projects), so the shingle arrays would be
    # built for every doc instead of only bucket-colliding ones. With the
    # collected candidate ids in hand the restriction is an isin FILTER —
    # pushed into the parquet scan, no broadcast-subplan job; the semi-join
    # form only remains for the too-many-candidates fallback.
    if rows is not None and len(rows) <= 100_000:
        cand = spark.createDataFrame(rows or [], "doc_a bigint, doc_b bigint")
        ids = sorted({a for a, _ in rows} | {b for _, b in rows})
        cand_docs = docs.where(F.col("doc_id").isin(ids) if ids else F.lit(False))
    else:
        if rows is not None:
            cand = spark.createDataFrame(rows, "doc_a bigint, doc_b bigint")
        else:  # candidate stream too big to localize — checkpoint shape
            cand = lsh_candidate_pairs(minhash_signatures(docs)).persist()
            cand.count()
        docs_in = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        cand_docs = docs.join(F.broadcast(docs_in), "doc_id", "left_semi")
    return exact_jaccard_for_pairs(cand, shingle_sets(cand_docs), threshold=threshold)


_NGRAM_JACCARD_ORACLE = f"""
WITH {_cand_ctes()},
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
sizes AS (
    SELECT doc_id, count(*) AS n FROM dsh
    WHERE doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)
    GROUP BY doc_id
),
inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS i
    FROM cand c
    JOIN dsh a ON a.doc_id = c.doc_a
    JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, i::DOUBLE / (sa.n + sb.n - i) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE i::DOUBLE / (sa.n + sb.n - i) >= 0.05
"""


# --- embedding cosine near-dup ------------------------------------------------


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.4) -> DataFrame:
    """Pairs of embeddings with cosine > threshold — TILED broadcast-matrix
    kernel (operators/vec.py cosine_pairs_tiled): the corpus streams
    partition-by-partition against one bounded hash-tile broadcast at a time,
    so no vector ever crosses a shuffle and the driver never holds the full
    corpus matrix. Bit-identical to the sequential-fold expression form, hence
    oracle-hash stable. The bounded-candidate alternative at 100 TB is
    embedding_lsh_pairs below."""
    from duckdb_ml_spark.operators.vec import cosine_pairs_tiled

    emb = load(spark, sf_dir, "embeddings")
    return cosine_pairs_tiled(emb, "vec_id", threshold=threshold, cache_key=sf_dir)


_EMB_NEARDUP_ORACLE = """
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
"""


# --- embedding LSH (random hyperplanes) --------------------------------------

LSH_NBITS = 16


def _hyperplane_sign(b: int, i: int) -> int:
    """Deterministic ±1 hyperplane coefficient shared by Spark and the oracle:
    parity of the first md5 nibble of 'b:i' (computed once in Python, inlined
    as literals into BOTH expression trees — no cross-engine hash needed)."""
    import hashlib

    return 1 if int(hashlib.md5(f"{b}:{i}".encode()).hexdigest()[0], 16) < 8 else -1


# --- near-dup clustering (connected components) ------------------------------


def _union_find_map(edges) -> list[tuple]:
    """[(node, min-reachable-root)] for every node touching an edge —
    union-find with path compression; min-id root == min cluster label."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(n, find(n)) for n in parent]


def dedup_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    max_collect_edges: int = 5_000_000,
) -> DataFrame:
    """Connected components over a near-dup pair graph: every doc gets
    cluster_id = min doc_id reachable through pairs (the canonical "keep one
    per duplicate cluster" key).

    Components are computed on the EDGE-INDUCED SUBGRAPH only — nodes that
    appear in at least one near-dup pair. That subgraph is orders smaller
    than the corpus (it is exactly the duplicate population), so the iterative
    part never touches the full node set; isolated docs take their own id via
    one final broadcast left-join. Two strategies by edge count:

    - edges ≤ max_collect_edges: ONE bounded driver collect + union-find with
      path compression, component map broadcast back. An iteration that would
      run J Spark jobs to converge collapses to a single O(E α(E)) pass —
      the same bounded-collect tradeoff as verify_pairs_cosine. The bound is
      probed with `limit(max+1).collect()` — a single short-circuiting job,
      not a count-then-collect pair (VERDICT r2: each eager persist+count
      barrier is a whole extra job).
    - larger: distributed min-label propagation, one hop per round, stop when
      a round changes nothing. Converges in graph-diameter rounds; for
      adversarial chains switch to large-star/small-star (same primitives,
      log² rounds). Labels are persisted per round so each iteration reads
      the previous materialization, not the whole lineage. (Rare path: pays
      one recompute of the pair pipeline after the failed bounded probe.)"""
    e = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    spark = nodes.sparkSession
    if max_collect_edges > 0:
        # probe only when the bounded arm is reachable — with the gate forced
        # off (max_collect_edges=0, the benched scale row) the old
        # unconditional limit(1).collect() executed the whole upstream pair
        # pipeline (LSH banding sits behind aggregations, so limit cannot
        # short-circuit) purely to learn what the caller already decided
        # (r15 optimization round, guide §1.2: don't compute things you
        # throw away — one full pipeline job removed)
        probe = e.limit(max_collect_edges + 1).collect()
        if len(probe) <= max_collect_edges:
            comp = _union_find_map((row.src, row.dst) for row in probe)
            return _apply_component_map(nodes, comp, id_col)
    e = e.persist()  # distributed path: edges feed every propagation round
    edges = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).persist()
    # Fused init (r15 optimization round, guide §2.4): label₀(n) =
    # min(n, min neighbor id) IS the output of propagation round 1 from the
    # identity labeling, computed here with ONE groupBy shuffle over the
    # symmetrized edges instead of the old distinct() (same shuffle) PLUS a
    # full join+union+groupBy round. The remaining trajectory is identical,
    # shifted one round earlier — same fixpoint, one corpus-scale join round
    # fewer at any scale.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("__m"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("__m")).alias("label"),
        )
        .persist()
    )
    # Convergence via the label-sum invariant (r15 optimization round, guide
    # §2.4: remove shuffles outright): new_label(n) = min(old_label(n),
    # neighbor labels) ≤ old_label(n), so a round changed something IFF the
    # label sum strictly decreased — one map-side-partial aggregate on the
    # persisted labels instead of the old join+filter+count (a per-round
    # shuffle join of two node-sized relations). decimal(38,0) keeps the sum
    # exact at any node count × id magnitude (bigint sum could overflow at
    # 10⁹ nodes of 10¹²-scale ids).
    def _label_sum(lbl: DataFrame):
        return lbl.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    for _ in range(max_iter):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        new_labels = (
            labels.union(nbr).groupBy("node").agg(F.min("label").alias("label")).persist()
        )
        new_sum = _label_sum(new_labels)
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    e.unpersist(blocking=False)
    edges.unpersist(blocking=False)
    return nodes.select(id_col).join(
        labels.withColumnRenamed("node", id_col), id_col, "left"
    ).select(id_col, F.coalesce("label", F.col(id_col)).alias("cluster_id"))


def _apply_component_map(nodes: DataFrame, comp: list, id_col: str = "doc_id") -> DataFrame:
    """Broadcast-join a driver component map onto the node set; isolated nodes
    cluster with themselves."""
    spark = nodes.sparkSession
    cmap = spark.createDataFrame(comp or [], schema=f"{id_col} bigint, __cl bigint")
    return nodes.select(id_col).join(F.broadcast(cmap), id_col, "left").select(
        id_col, F.coalesce("__cl", F.col(id_col)).alias("cluster_id")
    )


def _dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded corpora: sig-collect job + driver banding/est/union-find + one
    broadcast map join — two jobs end-to-end (the banded plan's collect probe
    would recompute the whole pair pipeline as a second job anyway). Larger:
    the distributed pair plan + dedup_clusters strategies."""
    docs = load(spark, sf_dir, "documents")
    sigs = _collect_signatures(spark, sf_dir)
    if sigs is not None:
        out = _driver_lsh_pairs(*sigs, threshold=0.3)
        if out is not None:
            comp = _union_find_map((a, b) for a, b, _ in out)
            return _apply_component_map(docs, comp)
    return dedup_clusters(docs, _minhash_lsh_pairs_q(spark, sf_dir))


def _dedup_clusters_distributed_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_clusters with the bounded-collect gate FORCED OFF
    (max_collect_edges=0): the distributed min-label-propagation path — the
    plan that runs when the near-dup edge set exceeds driver memory at
    100 TB. Same output contract as dedup_clusters (oracle shared), so the
    scale path is value-hash-checked against the recursive-CTE transitive
    closure, not just pytest-equivalence-checked against the union-find
    path. Converges in diameter rounds; near-dup clusters are shallow
    (dense blobs around a template), so rounds ≈ 2-3 here."""
    docs = load(spark, sf_dir, "documents")
    return dedup_clusters(
        docs, _minhash_lsh_pairs_q(spark, sf_dir), max_collect_edges=0
    )


def _dedup_clusters_oracle() -> str:
    # transitive closure via recursive CTE (UNION dedups -> terminates), then
    # min reachable id per node; isolated docs cluster with themselves
    return f"""
    WITH RECURSIVE pairs AS ({_minhash_lsh_oracle()}),
    e AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM e
        UNION
        SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    )
    SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id
    """


def dedup_keep_docs(
    nodes: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The dedup pipeline's ACTUAL OUTPUT: one keeper per near-dup cluster
    (lowest id) + every doc's cluster size — the table you anti-join the
    corpus against to drop duplicates, with the size as an audit column.

    Shape: cluster labels (edge-subgraph components, bounded union-find or
    label propagation) → one groupBy on cluster_id. The corpus itself only
    flows through the final broadcast map join inside dedup_clusters."""
    cl = dedup_clusters(nodes, pairs, id_col=id_col)
    return cl.groupBy("cluster_id").agg(
        F.min(id_col).alias("keep_doc_id"), F.count(F.lit(1)).alias("cluster_size")
    )


def _dedup_keep_docs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rides _dedup_clusters_q's strategy gate (driver union-find on bounded
    # corpora); the rollup itself is one colocatable groupBy either way
    cl = _dedup_clusters_q(spark, sf_dir)
    return cl.groupBy("cluster_id").agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("cluster_size")
    )


def _dedup_keep_docs_oracle() -> str:
    return f"""
    WITH clusters AS ({_dedup_clusters_oracle()})
    SELECT cluster_id, min(doc_id) AS keep_doc_id, count(*)::BIGINT AS cluster_size
    FROM clusters GROUP BY cluster_id
    """


def dedup_keep_best(
    nodes: DataFrame,
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Keep the HIGHEST-SCORING doc per near-dup cluster (tie → lowest id) —
    the refinement real pipelines apply once a quality signal exists: keep-min-
    id (dedup_keep_docs) discards arbitrarily; keep-best keeps the copy worth
    training on. One window over (cluster_id) ranked by (score DESC, id ASC),
    cluster_size ridden on the same partition — a single exchange beyond the
    cluster labels themselves."""
    j = clusters.join(scores.select(id_col, score_col), id_col)
    w = Window.partitionBy("cluster_id").orderBy(F.desc(score_col), F.asc(id_col))
    return (
        j.select(
            "cluster_id",
            F.col(id_col),
            F.col(score_col),
            F.row_number().over(w).alias("__rk"),
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id")).alias("cluster_size"),
        )
        .where(F.col("__rk") == 1)
        .select(
            "cluster_id",
            F.col(id_col).alias("keep_doc_id"),
            F.col(score_col).alias("keep_quality"),
            "cluster_size",
        )
    )


def _dedup_keep_best_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")
    cl = _dedup_clusters_q(spark, sf_dir)
    return dedup_keep_best(docs, cl, quality_score(spark, sf_dir))


def _dedup_keep_best_oracle() -> str:
    from duckdb_ml_spark.operators.text import _QUALITY_ORACLE

    return f"""
    WITH clusters AS MATERIALIZED ({_dedup_clusters_oracle()}),
    q AS MATERIALIZED ({_QUALITY_ORACLE}),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, q.quality_score,
               row_number() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY q.quality_score DESC, c.doc_id ASC) AS rk,
               count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
        FROM clusters c JOIN q ON c.doc_id = q.doc_id
    )
    SELECT cluster_id, doc_id AS keep_doc_id, quality_score AS keep_quality,
           cluster_size::BIGINT AS cluster_size
    FROM ranked WHERE rk = 1
    """


LSH_BAND_BITS = 4  # 4 bands x 4 bits from the 16-bit signature


def _hyperplanes(dim: int, nbits: int = LSH_NBITS):
    import numpy as np

    return np.array(
        [[float(_hyperplane_sign(b, i)) for i in range(dim)] for b in range(nbits)]
    )


def embedding_lsh_signatures(spark: SparkSession, sf_dir: str, nbits: int = LSH_NBITS) -> DataFrame:
    """nbits-bit random-hyperplane signature per embedding (sign-of-projection),
    via a mapInPandas kernel: the sequential dim fold is bit-identical to
    DuckDB's list_dot_product loop, and a 16x64-term codegen expression would
    spend seconds in janino compiling the same math.

    Cosine-similar vectors agree on most bits; banded into LSH_BAND_BITS-bit
    sub-keys this is THE bounded-candidate scale path for embedding dedup (vs
    the N^2/2 brute force): one narrow projection per row, no vector shuffle,
    and the 100 TB pair stage is a groupBy on 2-byte band keys."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.vec import embedding_dim

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb, cache_key=sf_dir)
    bc = spark.sparkContext.broadcast(_hyperplanes(dim, nbits))
    weights = np.array([1 << b for b in range(nbits)], dtype=np.int64)

    def gen(batches):
        Hm = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            proj = np.zeros((len(A), len(Hm)))
            for i in range(A.shape[1]):  # sequential fold over dims (parity)
                proj += np.multiply.outer(A[:, i], Hm[:, i])
            sig = ((proj > 0) @ weights).astype(np.int64)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), "sig": sig})

    return emb.select("vec_id", "embedding").mapInPandas(gen, "vec_id bigint, sig bigint")


def _embedding_lsh_sig_oracle(dim: int = 64, nbits: int = LSH_NBITS) -> str:
    bits = []
    for b in range(nbits):
        coefs = ", ".join(f"{float(_hyperplane_sign(b, i))}" for i in range(dim))
        bits.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], [{coefs}]::DOUBLE[]) > 0"
            f" THEN {1 << b} ELSE 0 END"
        )
    return f"SELECT vec_id, ({' + '.join(bits)})::BIGINT AS sig FROM embeddings"


def embedding_lsh_candidates(
    sig: DataFrame,
    nbits: int = LSH_NBITS,
    band_bits: int = LSH_BAND_BITS,
    dedup: bool = True,
) -> DataFrame:
    """(vec_a, vec_b) pairs agreeing on ≥1 band of the signature
    (full-signature equality has ~zero recall at moderate thresholds).

    dedup=False skips the distinct — a pair colliding in m bands appears m
    times. A consumer that pipes candidates into a cheap vectorized verify
    should prefer this and dedup AFTER filtering: shuffling the full
    candidate stream for distinct costs more than redundantly scoring the
    small multi-collision fraction."""
    n_bands = nbits // band_bits
    bands = sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                        .alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bv")
    a, b = bands.alias("a"), bands.alias("b")
    out = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
    )
    return out.distinct() if dedup else out


def _cached_count(df: DataFrame, cache_key=None) -> int:
    """Row count memoized per source (a dataset property, like embedding_dim)
    — strategy switches shouldn't pay a count job per query."""
    return memo(df.sparkSession, (cache_key, "count"), df.count)


def verify_pairs_cosine(
    pairs: DataFrame,
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    max_matrix_rows: int = 65536,
    cache_key=None,
) -> DataFrame:
    """Exact-cosine verify of candidate ID pairs. Two strategies, picked by
    corpus size (both bit-identical sequential-fold math — oracle parity):

    - corpus ≤ max_matrix_rows: score ID pairs against ONE broadcast corpus
      matrix (a bounded driver collect). When candidates outnumber the corpus
      (narrow bands), attaching a vector copy to every pair via joins costs
      more than one corpus broadcast — candidates carry only two int64s.
    - larger corpus: ID-JOIN rerank — the pair list is broadcast against the
      streaming corpus twice (gather side a, then side b) and a mapInPandas
      kernel folds the joined arrays. Nothing is collected to the driver;
      O(candidates·dim) through the plan. This is the 100 TB shape, where
      wide bands keep candidates ≪ corpus."""
    import numpy as np
    import pandas as pd

    if _cached_count(emb, cache_key) <= max_matrix_rows:
        from duckdb_ml_spark.operators.vec import collect_matrix

        ids, M = collect_matrix(
            emb, id_col, cache_key=(cache_key, "corpus")
        )
        bc = emb.sparkSession.sparkContext.broadcast((ids, M))

        def score_m(batches):
            ids_b, Mb = bc.value
            # vectorized id→row mapping (python-dict .map is ~1 µs/row — it
            # dominates at millions of candidate pairs)
            order = np.argsort(ids_b)
            sorted_ids = ids_b[order]
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                from duckdb_ml_spark.operators.vec import gather_indices

                ia = gather_indices(order, sorted_ids, pdf["vec_a"].to_numpy())
                ib = gather_indices(order, sorted_ids, pdf["vec_b"].to_numpy())
                A = Mb[ia]
                B = Mb[ib]
                n = len(A)
                dot = np.zeros(n)
                na = np.zeros(n)
                nb = np.zeros(n)
                for i in range(A.shape[1]):  # sequential fold (oracle parity)
                    dot += A[:, i] * B[:, i]
                    na += A[:, i] * A[:, i]
                    nb += B[:, i] * B[:, i]
                cos = dot / (np.sqrt(na) * np.sqrt(nb))
                keep = cos > threshold
                yield pd.DataFrame(
                    {
                        "vec_a": pdf["vec_a"].to_numpy()[keep],
                        "vec_b": pdf["vec_b"].to_numpy()[keep],
                    }
                )

        return pairs.mapInPandas(score_m, "vec_a bigint, vec_b bigint")

    ea = emb.select(F.col(id_col).alias("vec_a"), F.col("embedding").alias("__ea"))
    eb = emb.select(F.col(id_col).alias("vec_b"), F.col("embedding").alias("__eb"))
    # broadcast ONLY the bare int64 pair list (tiny); the a-side gather result
    # carries embedding arrays and streams through a shuffle join on vec_b —
    # re-broadcasting it would collect O(candidates·dim) bytes to the driver
    # on exactly the large-corpus path (ADVICE r3).
    j = ea.join(F.broadcast(pairs.select("vec_a", "vec_b")), "vec_a").join(eb, "vec_b")

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["__ea"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["__eb"].to_numpy()).astype(np.float64)
            n = len(A)
            dot = np.zeros(n)
            na = np.zeros(n)
            nb = np.zeros(n)
            for i in range(A.shape[1]):  # sequential fold (oracle parity)
                dot += A[:, i] * B[:, i]
                na += A[:, i] * A[:, i]
                nb += B[:, i] * B[:, i]
            cos = dot / (np.sqrt(na) * np.sqrt(nb))
            keep = cos > threshold
            yield pd.DataFrame(
                {"vec_a": pdf["vec_a"].to_numpy()[keep], "vec_b": pdf["vec_b"].to_numpy()[keep]}
            )

    return j.select("vec_a", "vec_b", "__ea", "__eb").mapInPandas(
        score, "vec_a bigint, vec_b bigint"
    )


def embedding_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    nbits: int = LSH_NBITS,
    band_bits: int = LSH_BAND_BITS,
) -> DataFrame:
    """Near-dup pairs from BANDED LSH buckets + exact-cosine verify. Output
    contract = brute-force embedding_neardup_pairs restricted to LSH
    candidates; recall vs brute force is pytest-measured.

    Default 16-bit/4-bit-band config is the oracle-parity benchmark point;
    with 4-bit bands random pairs collide at ~23%, near-quadratic on
    uncorrelated data. The at-scale default is nbits=32, band_bits=8
    (random-pair collision ~1.6%, high recall for true near-dups at
    cos ≥ 0.9) — see tests/test_operators.py recall/candidate-count checks.

    Two strategies by corpus size (verify_pairs_cosine's exact pattern):

    - corpus ≤ 65 536 rows: ONE masked broadcast kernel — signatures are
      computed driver-side from the (cached) corpus matrix with the identical
      sequential fold, and each streaming partition band-matches its rows
      against the broadcast signature table and folds cosine only where the
      mask fires. Same rows as the banded plan (bit-identical signatures ⇒
      identical collisions; bit-identical cosine ⇒ identical filter), minus
      the band explode, the 474k-row self-join, the distinct exchange and a
      second Python crossing.
    - larger: the banded shuffle plan — candidates via bucket self-join, then
      exact-cosine verify. This is the 100 TB path: nothing is ever collected,
      cost is candidate-bounded. Dedup BEFORE verify at the 4-bit operating
      point (measured: the multi-band duplicate fraction costs more redundant
      kernel work than the distinct exchange saves)."""
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    if _cached_count(emb, sf_dir) <= 65536:
        from duckdb_ml_spark.operators.vec import collect_matrix
        from duckdb_ml_spark.session import ensure_shipped

        ensure_shipped(spark)
        ids, M = collect_matrix(emb, "vec_id", cache_key=(sf_dir, "corpus"))
        H = _hyperplanes(M.shape[1], nbits)
        weights = np.array([1 << b for b in range(nbits)], dtype=np.int64)
        proj = np.zeros((len(M), nbits))
        for i in range(M.shape[1]):  # sequential fold (signature parity)
            proj += np.multiply.outer(M[:, i], H[:, i])
        sigs = ((proj > 0) @ weights).astype(np.int64)
        n_bands = nbits // band_bits
        mask_v = (1 << band_bits) - 1
        bc = spark.sparkContext.broadcast((ids, M, sigs))

        def gen(batches):
            ids_b, Mb, sigs_b = bc.value
            from duckdb_ml_spark.operators.vec import _seq_cosine_matrix

            bands_b = np.stack(
                [(sigs_b >> (b * band_bits)) & mask_v for b in range(n_bands)]
            )
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                ids_a = pdf["vec_id"].to_numpy()
                # row signatures: same sequential fold as the corpus side
                pa = np.zeros((len(A), nbits))
                for i in range(A.shape[1]):
                    pa += np.multiply.outer(A[:, i], H[:, i])
                sig_a = ((pa > 0) @ weights).astype(np.int64)
                hit = np.zeros((len(A), len(ids_b)), dtype=bool)
                for b in range(n_bands):
                    hit |= np.equal.outer((sig_a >> (b * band_bits)) & mask_v, bands_b[b])
                hit &= np.less.outer(ids_a, ids_b)
                cos = _seq_cosine_matrix(A, Mb)
                keep = hit & (cos > threshold)
                ai, bi = np.nonzero(keep)
                yield pd.DataFrame({"vec_a": ids_a[ai], "vec_b": ids_b[bi]})

        # a single parquet file scans as ONE partition locally — spread the
        # row-blocks so the kernel runs task-parallel (at scale the corpus
        # arrives already multi-partition and this repartition is a no-op
        # cost: 16-byte rows)
        par = max(8, spark.sparkContext.defaultParallelism // 2)
        return (
            emb.select("vec_id", "embedding")
            .repartition(par)
            .mapInPandas(gen, "vec_a bigint, vec_b bigint")
        )

    sig = embedding_lsh_signatures(spark, sf_dir, nbits=nbits)
    cand = embedding_lsh_candidates(sig, nbits=nbits, band_bits=band_bits)
    return verify_pairs_cosine(cand, emb, threshold, cache_key=sf_dir)


def _embedding_lsh_pairs_oracle() -> str:
    n_bands = LSH_NBITS // LSH_BAND_BITS
    mask = (1 << LSH_BAND_BITS) - 1
    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, (sig >> {b * LSH_BAND_BITS}) & {mask} AS bv FROM sig"
        for b in range(n_bands)
    )
    return f"""
    WITH sig AS ({_embedding_lsh_sig_oracle()}),
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b
    FROM cand
    JOIN embeddings ea ON ea.vec_id = vec_a
    JOIN embeddings eb ON eb.vec_id = vec_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) > 0.4
    """


# --- cross-document duplicate-span fraction -----------------------------------

SPAN_N = 5  # window width (tokens) for the span-duplication signal


# Above this doc count the span-fraction joins switch from SHUFFLE_HASH to
# spillable sort-merge: a shuffled-hash build side is PINNED memory (no
# spill), and at the 1024× probe (5.1 M docs, ~10⁸ distinct grams) the
# concurrent unspillable builds starved the per-(doc,gram) hash aggregation
# to a hard AGGREGATE_OUT_OF_MEMORY. 256× (1.28 M docs) ran fine — gate at
# 2 M errs toward the spillable form (r9; artifact SPANFIX_x1024_r9).
SPAN_JOIN_HASH_GATE = 2_000_000


def span_dup_fraction(
    docs: DataFrame, n: int = SPAN_N, text_col: str = "text", id_col: str = "doc_id",
    cache_key=None,
) -> DataFrame:
    """Per-doc fraction of n-token window POSITIONS whose exact token sequence
    also occurs in at least one OTHER document — the aggregate form of
    span-level exact dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes LMs Better": duplicated substrings, not just duplicated documents).
    MinHash/Jaccard flags near-identical DOCS; this flags boilerplate SPANS
    inside otherwise-unique docs — the curation signal that decides
    span-excision rather than doc-dropping.

    Plan: explode n-gram windows once (position-explode codegen, same as the
    shingle family), ONE groupBy(shingle) for distinct-doc counts, join back
    co-partitioned on shingle, ONE groupBy(doc). Two shuffles of compact
    (id, gram) pairs — at 100 TB the gram-count relation is the shared-span
    index, a maintainable dataset artifact like corpus_shingles. Docs shorter
    than n tokens have no windows and report fraction 0.0."""
    sh = exploded_shingles(docs, text_col=text_col, id_col=id_col, n=n)
    # Pre-aggregate window multiplicity per (doc, shingle); distinct-doc
    # counts derive FROM that compact relation (count rows per shingle ==
    # distinct docs) and broadcast back onto it. The g lineage executes twice
    # (its two consumers end in a broadcast build vs a stream side, so no
    # common Exchange exists for ReuseExchange to dedup — verified in the
    # executed plan), but both executions are map-only scan→explode→partial-agg
    # pipelines with ONE exchange each; the alternatives measured worse or
    # riskier at sf0.1: naive explode→distinct→join re-runs the bigger
    # un-aggregated lineage (1.06 s vs 1.17 s here, but its join leg carries
    # raw window rows), and the true single-scan form (count over a
    # shingle-partitioned window) pays a corpus-scale sort (1.47 s). At
    # 100 TB the (doc, shingle) relation would be a maintained table (the
    # corpus_shingles pattern) and every variant collapses to one scan of it.
    g = sh.groupBy(id_col, "shingle").agg(F.count(F.lit(1)).alias("mult"))
    counts = g.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs_with"))
    # Join-strategy hints, deliberately: BOTH join sides here grow linearly
    # with the corpus (counts is one row per distinct n-gram, per_win one row
    # per doc), so Catalyst's stats-based broadcast election is a trap —
    # measured at the 16× probe it broadcast the multi-million-row gram-count
    # relation (hundreds of MB to every executor, 27.7 s vs DuckDB 8.2).
    # WHICH non-broadcast strategy is size-gated (r9): SHUFFLE_HASH is the
    # fast form (no sorts; 16×: 27.7 → 11.4 s) but its build side is PINNED
    # memory — at the 1024× probe the concurrent unspillable builds starved
    # the hash aggregation into AGGREGATE_OUT_OF_MEMORY. Above
    # SPAN_JOIN_HASH_GATE docs the hints switch to MERGE (sort-merge spills;
    # the sorts ride the existing shuffle exchanges). Both branches are
    # stats-independent and hash-identical in output.
    n_docs = _cached_count(docs, cache_key)
    strat = "SHUFFLE_HASH" if n_docs <= SPAN_JOIN_HASH_GATE else "MERGE"
    per_win = g.join(counts.hint(strat), "shingle").groupBy(id_col).agg(
        F.sum("mult").alias("n_windows"),
        F.sum(F.col("mult") * (F.col("n_docs_with") >= 2).cast("bigint")).alias(
            "n_dup_windows"
        ),
    )
    return docs.select(id_col).join(per_win.hint(strat), id_col, "left").select(
        id_col,
        F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
        F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
        F.coalesce(
            F.col("n_dup_windows").cast("double") / F.col("n_windows"), F.lit(0.0)
        ).alias("dup_fraction"),
    )


def _span_dup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_dup_fraction(
        load(spark, sf_dir, "documents"),
        cache_key=(sf_dir, "documents", "rowcount"),
    )


_SPAN_DUP_ORACLE = f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS w FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - {SPAN_N - 1}),
                                 i -> {" || ' ' || ".join(f"w[i+{j}]" for j in range(SPAN_N))})) AS shingle
    FROM toks
),
counts AS (
    SELECT shingle, count(DISTINCT doc_id) AS n_docs_with FROM sh GROUP BY shingle
),
per AS (
    SELECT s.doc_id,
           count(*) AS n_windows,
           sum(CASE WHEN c.n_docs_with >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_windows
    FROM sh s JOIN counts c ON s.shingle = c.shingle
    GROUP BY s.doc_id
)
SELECT d.doc_id,
       coalesce(p.n_windows, 0)::BIGINT AS n_windows,
       coalesce(p.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       coalesce(p.n_dup_windows::DOUBLE / p.n_windows, 0.0) AS dup_fraction
FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
"""


def _contrastive_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.operators.vec import contrastive_pairs

    emb = load(spark, sf_dir, "embeddings")
    return contrastive_pairs(emb, cache_key=sf_dir)


_CONTRASTIVE_ORACLE = """
WITH pos AS (
    SELECT a.vec_id AS anchor, b.vec_id AS other
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) > 0.4
),
anchors AS (SELECT DISTINCT anchor FROM pos),
cand AS (
    SELECT anchor,
           (anchor * 2654435761) % (SELECT count(*) FROM embeddings) AS other
    FROM anchors
),
neg AS (
    SELECT c.anchor, c.other
    FROM cand c
    JOIN embeddings a ON a.vec_id = c.anchor
    JOIN embeddings b ON b.vec_id = c.other
    WHERE c.other != c.anchor
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) < 0.2
)
SELECT anchor, other, 1 AS label FROM pos
UNION ALL
SELECT anchor, other, 0 AS label FROM neg
"""


# --- semantic dedup (SemDeDup: cluster-bounded cosine pruning) ----------------

SEM_STRIDE = 25  # vec_id % 25 == 0 → corpus/25 coarse centroids (oracle-parity mode)
SEM_TAU = 0.4  # within-cluster cosine at/above which the higher id is dropped
# Above this member count a cluster is re-partitioned before the pairwise
# step (SemDeDup's own recluster-oversized move, arXiv:2303.09540 §3): the
# r9 64× probe hit a collapsed mega-cluster whose n² float64 cosine block
# (n ≈ tens of thousands → multi-GB, 64 accumulation passes) pinned one task
# for tens of minutes. Never reached at driver check scales (max cluster
# ≈ stride members), so the oracle stays exact; above it the within-cluster
# prune is computed per sub-cluster — a documented approximation.
SEM_MAX_CLUSTER = 4096
# (r11) the assign kernel's working-set bound moved into
# vec.exact_argmax_cosine's row_block x col_block tiling — however many
# centroids the corpus implies (82k at the 1024x derivation).


def semantic_dedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    tau: float = SEM_TAU,
    stride: int = SEM_STRIDE,
    centroids: str = "stride",
    cache_key=None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embeddings, then prune WITHIN each cluster only — a row is dropped iff
    some LOWER-id member of its cluster has cosine ≥ tau to it. Unlike the
    pairwise near-dup operators above (threshold pairs / LSH candidates),
    this is the semantic-redundancy reducer: clusters bound the comparison
    set, so the pair space is Σ|cluster|² instead of N² — the property that
    let the paper run on billions of LAION embeddings.

    Returns (id, bucket, kept) for EVERY input row.

    Plan shape (the one that scales):
      1. ONE corpus scan assigns each vector to its nearest centroid
         (broadcast centroid matrix, fused Arrow kernel — same
         argmax/tie-break recipe as ivf_topk; r11: the argmax runs at BLAS
         speed with an exact-fold rescore of the eps-band candidates —
         bit-identical by construction, see vec.exact_argmax_cosine — after
         the d-pass fold was measured as 216 s of the 336 s 1024× run).
      2. ONE shuffle co-locates each cluster (hash repartition on bucket —
         the only exchange; clusters ≈ N/stride or √N so AQE absorbs skew).
      3. Per-partition Arrow kernel computes each cluster's member×member
         cosine block (sequential-fold matrix kernel, bit-identical to
         DuckDB's list_cosine_similarity) and keeps rows with no ≥tau
         predecessor. No pair list is ever materialized or shuffled. A
         cluster above SEM_MAX_CLUSTER members is first re-partitioned by a
         deterministic spherical seed assignment (SemDeDup's own
         recluster-oversized move) and pruned per sub-cluster — drops become
         a SUBSET of the exact within-cluster drops; never triggered at
         driver check scales, so the oracle stays exact.

    centroids="stride" is the oracle-parity quantizer (id % stride — a
    modulo sample DuckDB replicates exactly, same as sim_topk_ivf);
    centroids="kmeans" swaps in the real MLlib coarse quantizer (k ≈ √N) for
    production use — identical plan, no cross-engine oracle."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.vec import collect_matrix
    from duckdb_ml_spark.session import ensure_shipped

    if centroids == "kmeans":
        from duckdb_ml_spark.operators.similarity import kmeans_centroids

        cent_ids, CM = kmeans_centroids(emb, id_col=id_col)
    else:
        cent_ids, CM = collect_matrix(
            emb.where(F.col(id_col) % stride == 0),
            id_col,
            cache_key=(cache_key, "sem_cent", stride),
        )
        order = np.argsort(cent_ids)  # c_id ASC → argmax first-max == lowest c_id on ties
        cent_ids, CM = cent_ids[order], CM[order]

    if len(cent_ids) == 0:
        # fail at the driver with the cause, not as an opaque np.argmax
        # error inside an executor kernel (ADVICE r7 low)
        raise ValueError(
            f"semantic_dedup: centroid selection is empty "
            f"({'kmeans on empty input' if centroids == 'kmeans' else f'no {id_col} divisible by stride={stride}'}); "
            f"shrink `stride` or check the corpus"
        )
    spark = emb.sparkSession
    ensure_shipped(spark)
    bc = spark.sparkContext.broadcast((cent_ids, CM))

    def assign(batches):
        from duckdb_ml_spark.operators.vec import exact_argmax_cosine

        cids_b, CMb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["embedding"].to_numpy())
            # exact fold argmax at BLAS speed (r11: the d-pass fold over the
            # full (n, k) accumulator was the measured 1024x bottleneck —
            # 216 s of the 336 s run for 256k x 10k; the banded rescore is
            # bit-identical by construction, see exact_argmax_cosine). The
            # first-max rule == lowest c_id on ties, since cent_ids is
            # sorted ascending.
            best_idx, _ = exact_argmax_cosine(A, CMb)
            buckets = cids_b[best_idx]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "bucket": buckets,
                    "embedding": pdf["embedding"],
                }
            )

    # single-file corpora scan as ONE partition locally (an N-row embeddings
    # parquet is only N·d·4 bytes — under one 128 MB split far past the
    # collect gates) — spread the stream so the accumulation-heavy assign
    # kernel runs task-parallel, exactly like vec.py's pair kernel. The r9
    # 64× probe measured the unspread form: ONE task ground the whole
    # 128k×5k assign for 8+ min. No-op cost at scale: rows carry id+vector.
    par = max(8, spark.sparkContext.defaultParallelism // 2)
    assigned = (
        emb.select(id_col, F.col("embedding").cast("array<double>").alias("embedding"))
        .repartition(par)
        .mapInPandas(assign, f"{id_col} bigint, bucket bigint, embedding array<double>")
    )

    def _prune_block(M):
        # dropped[i] ⇔ ∃ j<i (id order) with cos ≥ tau — exact within a
        # block; r11: BLAS threshold with eps-band exact rescore
        # (vec.exact_tril_any_ge), bit-identical to the fold matrix form
        from duckdb_ml_spark.operators.vec import exact_tril_any_ge

        return exact_tril_any_ge(M, tau)

    def _subclusters(M, max_size):
        # SemDeDup's recluster-oversized step, deterministic: single-pass
        # spherical assignment to the first 2·⌈n/max_size⌉ members (id
        # order), then a contiguous hard split of any still-oversized
        # sub-cluster guarantees the bound.
        from duckdb_ml_spark.operators.vec import exact_argmax_cosine

        k = max(2, -(-len(M) // max_size) * 2)
        sub, _ = exact_argmax_cosine(M, M[:k])
        for s in range(k):
            idx = np.nonzero(sub == s)[0]
            for off in range(0, len(idx), max_size):
                block = idx[off : off + max_size]
                if len(block):
                    yield block

    def prune(batches):
        frames = [pdf for pdf in batches if len(pdf)]
        if not frames:
            return
        part = pd.concat(frames, ignore_index=True)
        for bucket, g in part.groupby("bucket", sort=False):
            g = g.sort_values(id_col)
            M = np.stack(g["embedding"].to_numpy())
            if len(g) <= SEM_MAX_CLUSTER:
                dropped = _prune_block(M)
            else:
                dropped = np.zeros(len(g), dtype=bool)
                for idx in _subclusters(M, SEM_MAX_CLUSTER):
                    # np.nonzero indices are ascending ⇒ id order preserved
                    dropped[idx] = _prune_block(M[idx])
            yield pd.DataFrame(
                {id_col: g[id_col].to_numpy(), "bucket": bucket, "kept": ~dropped}
            )

    return assigned.repartition("bucket").mapInPandas(
        prune, f"{id_col} bigint, bucket bigint, kept boolean"
    )


def _semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return semantic_dedup(load(spark, sf_dir, "embeddings"), cache_key=sf_dir)


# Deterministic corpus sample for the SCALE-SURVIVING oracle twin: the full
# dedup_semantic oracle's assignment cross-join is unrunnable in DuckDB at
# derived scale (kernel-OOM at 104 GB RSS on 128k vectors × 2.6k centroids at
# 64×, commit b5694ae) — so above gate scale the full query had pytest
# equivalence only (VERDICT r9 item 5). Sampling vec_id % 8 == 0 shrinks the
# oracle's pair space 64× while exercising the IDENTICAL Spark kernel path
# (tiled assign, spread scan, sub-cluster prune), giving a cross-engine VALUE
# check that still runs at the 64×/256× probes.
SEM_SAMPLE_MOD = 8


def _semantic_sampled_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % SEM_SAMPLE_MOD == 0
    )
    return semantic_dedup(emb, cache_key=(sf_dir, f"sem{SEM_SAMPLE_MOD}"))


_SEMANTIC_ORACLE = f"""
WITH cent AS (
    SELECT vec_id AS c_id, embedding FROM embeddings WHERE vec_id % {SEM_STRIDE} = 0
),
assigned AS (
    SELECT e.vec_id, e.embedding, c.c_id AS bucket,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.c_id ASC
           ) AS rn
    FROM embeddings e, cent c
    QUALIFY rn = 1
),
dropped AS (
    SELECT DISTINCT a.vec_id
    FROM assigned a JOIN assigned b
      ON a.bucket = b.bucket AND b.vec_id < a.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {SEM_TAU}
)
SELECT a.vec_id, a.bucket, (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


_SEMANTIC_SAMPLED_ORACLE = f"""
WITH base AS (
    SELECT vec_id, embedding FROM embeddings WHERE vec_id % {SEM_SAMPLE_MOD} = 0
),
cent AS (
    SELECT vec_id AS c_id, embedding FROM base WHERE vec_id % {SEM_STRIDE} = 0
),
assigned AS (
    SELECT e.vec_id, e.embedding, c.c_id AS bucket,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.c_id ASC
           ) AS rn
    FROM base e, cent c
    QUALIFY rn = 1
),
dropped AS (
    SELECT DISTINCT a.vec_id
    FROM assigned a JOIN assigned b
      ON a.bucket = b.bucket AND b.vec_id < a.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= {SEM_TAU}
)
SELECT a.vec_id, a.bucket, (d.vec_id IS NULL) AS kept
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
"""


# --- blocked candidate pairs verified by exact edit distance -----------------


EDITDIST_PREFIX = 200  # Levenshtein window: O(prefix²) per pair, bounded
EDITDIST_MAX = 80  # ≤ 40% of the prefix may differ


def editdist_verify_pairs(
    docs: DataFrame,
    prefix_len: int = EDITDIST_PREFIX,
    max_dist: int = EDITDIST_MAX,
) -> DataFrame:
    """Record-linkage-style near-dup verification: cheap BLOCKING (equal
    (lang, source) here) proposes candidate pairs, exact Levenshtein over a
    capped prefix verifies them — integer distances, so cross-engine parity
    is exact (no float anywhere).

    Output: (doc_a, doc_b, editdist), doc_a < doc_b, editdist ≤ max_dist.

    Scale shape: a self-equi-join on the block key — one shuffle of the
    (id, block, prefix) projection per side, candidate work quadratic ONLY
    within a block. Blocking is the scalability control: at 100 TB the key
    widens (add a length bucket, or swap in the MinHash band buckets that
    dedup_minhash_lsh_pairs already computes — any block generator feeds the
    same verifier). The Levenshtein cost itself is capped at prefix_len² per
    pair and runs JVM-side (built-in `levenshtein`, no UDF)."""
    b = docs.select(
        "doc_id",
        "lang",
        "source",
        F.substring("text", 1, prefix_len).alias("pfx"),
    )
    a, c = b.alias("a"), b.alias("c")
    pairs = a.join(
        c,
        (F.col("a.lang") == F.col("c.lang"))
        & (F.col("a.source") == F.col("c.source"))
        & (F.col("a.doc_id") < F.col("c.doc_id")),
    )
    d = F.levenshtein(F.col("a.pfx"), F.col("c.pfx"))
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("c.doc_id").alias("doc_b"),
        d.alias("editdist"),
    ).where(F.col("editdist") <= max_dist)


def editdist_verify_lsh(
    spark: SparkSession,
    sf_dir: str,
    prefix_len: int = EDITDIST_PREFIX,
    max_dist: int = EDITDIST_MAX,
) -> DataFrame:
    """MinHash-band candidates → exact capped-prefix Levenshtein verify: the
    LSH buckets are the block generator, so the quadratic verifier only ever
    touches bucket-colliding pairs (candidate-bounded — the ngram_jaccard
    two-stage shape with an edit-distance verifier instead of set overlap).

    The first cut of this query blocked on (lang, source) alone: correct, but
    block sizes grow linearly with the corpus, so verify pairs grow
    QUADRATICALLY — measured 81 s at sf0.1 (5 000 docs → 122 k Levenshtein
    calls) vs 0.9 s for this form. Blocking IS the scale control, and bands
    are the block key that stays candidate-bounded at 100 TB.

    Candidate branch mirrors ngram_jaccard_pairs: bounded corpora collect the
    shared signature table once (memoized) and band on the driver;
    above the gate the banded self-join plan generates candidates lazily and
    only the prefix join + verify run distributed.

    r14 regression probe (sf0.1 0.64 s → 0.93 s after the r13 signature
    memo): the steady-state cost was TWO filtered scans of the documents
    text column per run (one per join side). The candidate ids of an
    immutable corpus are a dataset property, so the bounded branch now
    localCheckpoints the ~|ids|-row prefix table once per (session, sf_dir)
    — the same memo as the signatures — and both join sides read the
    materialized rows: 0.88 s → 0.60 s min-of-3 (prefix-inline driver
    variant falsified at 0.96 s, bench/EDITDIST_PROBE_r14.json)."""
    docs = load(spark, sf_dir, "documents")
    rows = None
    sigs = _collect_signatures(spark, sf_dir)
    if sigs is not None:  # bounded corpus: driver banding on cached sigs
        out = _driver_lsh_pairs(*sigs, threshold=None)
        if out is not None:
            rows = [(a, b) for a, b, _ in out]
    if rows is not None:
        cand = spark.createDataFrame(rows or [], "doc_a bigint, doc_b bigint")
        ids = sorted({a for a, _ in rows} | {b for _, b in rows})
        p = memo(spark, (sf_dir, "editdist_pfx", prefix_len), lambda: (
            docs.where(F.col("doc_id").isin(ids) if ids else F.lit(False))
            .select("doc_id", F.substring("text", 1, prefix_len).alias("pfx"))
            .localCheckpoint()
        ))
    else:  # unbounded: lazy banded candidates, no driver materialization
        cand = lsh_candidate_pairs(minhash_signatures(docs))
        p = docs.select(
            "doc_id", F.substring("text", 1, prefix_len).alias("pfx")
        )
    a, c = p.alias("a"), p.alias("c")
    d = F.levenshtein(F.col("a.pfx"), F.col("c.pfx"))
    return (
        cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(c, F.col("c.doc_id") == F.col("doc_b"))
        .select("doc_a", "doc_b", d.alias("editdist"))
        .where(F.col("editdist") <= max_dist)
    )


def _editdist_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return editdist_verify_lsh(spark, sf_dir)


def _editdist_oracle() -> str:
    return f"""
WITH {_cand_ctes()},
p AS (SELECT doc_id, substr(text, 1, {EDITDIST_PREFIX}) AS pfx FROM documents)
SELECT doc_a, doc_b, levenshtein(a.pfx, c.pfx) AS editdist
FROM cand JOIN p a ON a.doc_id = doc_a JOIN p c ON c.doc_id = doc_b
WHERE levenshtein(a.pfx, c.pfx) <= {EDITDIST_MAX}
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_editdist_verify": QuerySpec(
        name="dedup_editdist_verify",
        builder=_editdist_q,
        oracle=_editdist_oracle(),
        doc="MinHash-band candidates verified by exact capped-prefix "
        "Levenshtein (integer distances; candidate-bounded at scale).",
        tags=("dedup", "editdist", "blocking"),
    ),
    "dedup_semantic": QuerySpec(
        name="dedup_semantic",
        builder=_semantic_dedup_q,
        oracle=_SEMANTIC_ORACLE,
        doc="SemDeDup: coarse-cluster embeddings, drop rows with a ≥tau-cosine "
        "lower-id member in the same cluster (cluster-bounded pair space — "
        "the semantic-redundancy reducer that scales past pairwise dedup).",
        tags=("dedup", "embedding", "semantic", "pipeline"),
    ),
    "dedup_semantic_sampled": QuerySpec(
        name="dedup_semantic_sampled",
        builder=_semantic_sampled_q,
        oracle=_SEMANTIC_SAMPLED_ORACLE,
        doc="SemDeDup on the deterministic vec_id % 8 corpus sample — the "
        "scale-surviving VALUE oracle (VERDICT r9 item 5): the full oracle's "
        "assignment cross-join OOMs DuckDB at ≥64× derived scale, this twin "
        "shrinks the oracle pair space 64× while running the identical "
        "Spark kernel path (tiled assign, spread scan, sub-cluster prune). "
        "Value-parity bound at DERIVED scale: exact while the largest "
        "cluster ≤ SEM_MAX_CLUSTER (4096) — replica vectors are "
        "scale-perturbed (cosine-invariant) copies, so derived clusters "
        "grow ≈ stride·factor and the sub-cluster APPROXIMATION engages "
        "above ~64× (50·64 = 3200 < 4096 < 50·256); pair values at ≤64×, "
        "time-only beyond.",
        tags=("dedup", "embedding", "semantic", "pipeline"),
    ),
    "emb_contrastive_pairs": QuerySpec(
        name="emb_contrastive_pairs",
        builder=_contrastive_pairs_q,
        oracle=_CONTRASTIVE_ORACLE,
        doc="Contrastive pair mining: verified near-dup positives + one "
        "deterministic cosine-verified negative per anchor (embedding-model "
        "training dataset construction).",
        tags=("similarity", "embedding", "contrastive", "pipeline"),
    ),
    "dedup_span_fraction": QuerySpec(
        name="dedup_span_fraction",
        builder=_span_dup_q,
        oracle=_SPAN_DUP_ORACLE,
        doc="Span-level duplication signal: per-doc fraction of 5-token windows "
        "shared with another document (cross-doc boilerplate detector).",
        tags=("dedup", "span", "pipeline"),
    ),
    "dedup_exact_keys": QuerySpec(
        name="dedup_exact_keys",
        builder=exact_dedup_keys,
        oracle=f"""
        SELECT md5({norm_text_sql("text")}) AS text_hash,
               min(doc_id) AS keep_doc_id, count(*) AS n_dups
        FROM documents GROUP BY 1
        """,
        doc="Exact dedup keys: md5(normalized text) → keeper id + dup count.",
        tags=("dedup",),
    ),
    "dedup_minhash_signatures": QuerySpec(
        name="dedup_minhash_signatures",
        builder=_minhash_signatures_q,
        oracle=f"WITH {_SHINGLES_CTE}, {_SIG_CTE} SELECT * FROM sig",
        doc="16 md5-minhashes per doc over word-3-gram shingles (one groupBy pass).",
        tags=("dedup", "minhash"),
    ),
    "dedup_minhash_lsh_pairs": QuerySpec(
        name="dedup_minhash_lsh_pairs",
        builder=_minhash_lsh_pairs_q,
        oracle=_minhash_lsh_oracle(),
        doc="LSH-banded near-dup candidate pairs with estimated-Jaccard filter.",
        tags=("dedup", "minhash", "lsh"),
    ),
    "dedup_simhash": QuerySpec(
        name="dedup_simhash",
        builder=simhash_docs,
        oracle=_SIMHASH_ORACLE,
        doc="60-bit SimHash fingerprint per document.",
        tags=("dedup", "simhash"),
    ),
    "dedup_ngram_jaccard_pairs": QuerySpec(
        name="dedup_ngram_jaccard_pairs",
        builder=ngram_jaccard_pairs,
        oracle=_NGRAM_JACCARD_ORACLE,
        doc="Exact 3-gram Jaccard similarity pairs (threshold 0.05).",
        tags=("dedup", "jaccard"),
    ),
    "dedup_embedding_pairs": QuerySpec(
        name="dedup_embedding_pairs",
        builder=embedding_neardup_pairs,
        oracle=_EMB_NEARDUP_ORACLE,
        doc="Embedding-cosine near-duplicate pairs (cosine > 0.4, double math).",
        tags=("dedup", "embedding"),
    ),
    "dedup_clusters": QuerySpec(
        name="dedup_clusters",
        builder=_dedup_clusters_q,
        oracle=_dedup_clusters_oracle(),
        doc="Connected-component cluster ids over MinHash-LSH near-dup pairs.",
        tags=("dedup", "clustering"),
    ),
    "dedup_clusters_distributed": QuerySpec(
        name="dedup_clusters_distributed",
        builder=_dedup_clusters_distributed_q,
        oracle=_dedup_clusters_oracle(),
        doc="Connected components via distributed min-label propagation "
        "(the above-gate 100 TB path, forced), hash-checked against the "
        "same transitive-closure oracle as dedup_clusters.",
        tags=("dedup", "clustering", "scale"),
    ),
    "dedup_keep_docs": QuerySpec(
        name="dedup_keep_docs",
        builder=_dedup_keep_docs_q,
        oracle=_dedup_keep_docs_oracle(),
        doc="Dedup output: keeper doc (min id) + cluster size per near-dup cluster.",
        tags=("dedup", "clustering"),
    ),
    "dedup_incremental": QuerySpec(
        name="dedup_incremental",
        builder=_dedup_incremental_q,
        oracle=_dedup_incremental_oracle(),
        doc="Incremental dedup: banded LSH join of the incoming batch's "
        "signatures against the maintained corpus table (never old×old).",
        tags=("dedup", "lsh", "incremental"),
    ),
    "dedup_keep_best": QuerySpec(
        name="dedup_keep_best",
        builder=_dedup_keep_best_q,
        oracle=_dedup_keep_best_oracle(),
        doc="Keep the highest-quality doc per near-dup cluster (quality_score "
        "argmax, id tie-break) — keep-best refinement of dedup_keep_docs.",
        tags=("dedup", "clustering", "text", "pipeline"),
    ),
    "dedup_embedding_lsh_sigs": QuerySpec(
        name="dedup_embedding_lsh_sigs",
        builder=embedding_lsh_signatures,
        oracle=_embedding_lsh_sig_oracle(),
        doc="16-bit random-hyperplane LSH signature per embedding (scale path).",
        tags=("dedup", "embedding", "lsh"),
    ),
    "dedup_embedding_lsh_pairs": QuerySpec(
        name="dedup_embedding_lsh_pairs",
        builder=embedding_lsh_pairs,
        oracle=_embedding_lsh_pairs_oracle(),
        doc="Bucketed embedding near-dup pairs: LSH candidates + exact-cosine verify.",
        tags=("dedup", "embedding", "lsh"),
    ),
}
