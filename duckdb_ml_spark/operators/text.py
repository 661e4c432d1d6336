"""Text-analysis operators: token stats, quality scoring, language ID,
document fingerprinting, BPE-ish token counting.

All hot-path expressions are JVM-side built-ins (regexp_*, higher-order list
functions) — no Python UDFs — so they pipeline inside whole-stage codegen and
scale linearly with input. Each query has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_ml_spark.operators.textnorm import norm_text, norm_text_sql, tokens, tokens_sql
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on"),
    "fr": ("le", "la", "et", "de", "un", "une", "est", "dans", "pour", "que"),
    "es": ("el", "la", "y", "de", "un", "una", "es", "en", "por", "que"),
    "de": ("der", "die", "das", "und", "ein", "eine", "ist", "in", "zu", "mit"),
}
_LANG_ORDER = ("en", "fr", "es", "de")  # deterministic argmax tie-break


def _hits(toks, words: tuple[str, ...]):
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))


def _hits_rx(norm_col, words: tuple[str, ...]):
    """Stopword-hit count as ONE regexp_count over the normalized text.

    Counts exactly what `_hits` counts (tokens = single-space-separated runs
    after norm_text): each occurrence bounded by start/space and space/end,
    with a lookahead so adjacent hits ("the a") don't consume each other's
    boundary. regexp_count is JVM codegen; the HOF filter form evaluates its
    lambda interpreted per token × per word — measured 2.5× slower on sf0.1
    (lang_id runs 4 of these)."""
    pat = "(?:^| )(?:" + "|".join(words) + ")(?= |$)"
    return F.regexp_count(norm_col, F.lit(pat))


def _hits_sql(words: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(w, t -> t IN ({inlist})))"


# --- token stats -------------------------------------------------------------


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.length(norm_text(F.col("text"))).alias("n_norm_chars"),
    )


_TOKEN_STATS_ORACLE = f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({tokens_sql("text")}) AS n_tokens,
       len(list_distinct({tokens_sql("text")})) AS n_uniq_tokens,
       length({norm_text_sql("text")}) AS n_norm_chars
FROM documents
"""


# --- quality score -----------------------------------------------------------


def quality_score(spark: SparkSession, sf_dir: str, carry: tuple = ()) -> DataFrame:
    """Heuristic quality components + combined score, all integer/double exact.

    score = 0.4·alpha_ratio + 0.3·uniq_ratio + 0.3·stopword_presence
    (alpha-heavy text, lexical diversity, and natural-language stopword rate —
    the standard cheap pre-filters in LLM data pipelines). `carry` columns
    ride the projection so consumers (importance sampling) need no join back
    onto documents."""
    docs = load(spark, sf_dir, "documents")
    # normalized text materialized once; tokens/hits both derive from it
    base = docs.select(
        "doc_id",
        *carry,
        F.length("text").alias("__nc"),
        F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", "")).alias("__na"),
        norm_text(F.col("text")).alias("__n"),
    )
    toks = F.split(F.col("__n"), " ")
    n_tokens = F.size(toks)
    n_uniq = F.size(F.array_distinct(toks))
    stop_hits = _hits_rx(F.col("__n"), STOPWORDS["en"])
    alpha_ratio = F.col("__na").cast("double") / F.col("__nc")
    uniq_ratio = n_uniq.cast("double") / n_tokens
    stop_ratio = stop_hits.cast("double") / n_tokens
    return base.select(
        "doc_id",
        *carry,
        alpha_ratio.alias("alpha_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        stop_ratio.alias("stop_ratio"),
        (0.4 * alpha_ratio + 0.3 * uniq_ratio + 0.3 * stop_ratio).alias("quality_score"),
    )


_QUALITY_ORACLE = f"""
WITH t AS (
    SELECT doc_id,
           {tokens_sql("text")} AS w,
           length(text) AS n_chars,
           length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS n_alpha
    FROM documents
)
SELECT doc_id,
       n_alpha::DOUBLE / n_chars AS alpha_ratio,
       len(list_distinct(w))::DOUBLE / len(w) AS uniq_ratio,
       {_hits_sql(STOPWORDS["en"])}::DOUBLE / len(w) AS stop_ratio,
       0.4 * (n_alpha::DOUBLE / n_chars)
     + 0.3 * (len(list_distinct(w))::DOUBLE / len(w))
     + 0.3 * ({_hits_sql(STOPWORDS["en"])}::DOUBLE / len(w)) AS quality_score
FROM t
"""


# --- language ID -------------------------------------------------------------


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit argmax language heuristic with deterministic tie-break order."""
    docs = load(spark, sf_dir, "documents")
    base = docs.select("doc_id", "lang", norm_text(F.col("text")).alias("__n"))
    hit_cols = {
        lang: _hits_rx(F.col("__n"), STOPWORDS[lang]).alias(f"{lang}_hits")
        for lang in _LANG_ORDER
    }
    df = base.select("doc_id", "lang", *hit_cols.values())
    best = F.lit("unknown")
    best_hits = F.lit(0)
    for lang in reversed(_LANG_ORDER):  # earlier langs win ties (>=)
        cond = F.col(f"{lang}_hits") > 0
        better = F.col(f"{lang}_hits") >= best_hits
        best = F.when(cond & better, F.lit(lang)).otherwise(best)
        best_hits = F.greatest(F.col(f"{lang}_hits"), best_hits)
    return df.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[F.col(f"{lang}_hits") for lang in _LANG_ORDER],
        best.alias("pred_lang"),
    )


def _lang_id_oracle() -> str:
    hits = ",\n       ".join(f"{_hits_sql(STOPWORDS[lang])} AS {lang}_hits" for lang in _LANG_ORDER)
    # same reversed-fold semantics: earlier languages win ties
    expr = "'unknown'"
    best = "0"
    for lang in reversed(_LANG_ORDER):
        expr = (
            f"CASE WHEN {lang}_hits > 0 AND {lang}_hits >= {best} THEN '{lang}' ELSE {expr} END"
        )
        best = f"greatest({lang}_hits, {best})"
    return f"""
    WITH t AS (SELECT doc_id, lang, {tokens_sql("text")} AS w FROM documents),
    h AS (SELECT doc_id, lang, {hits} FROM t)
    SELECT doc_id, lang AS labeled_lang, en_hits, fr_hits, es_hits, de_hits,
           {expr} AS pred_lang
    FROM h
    """


# --- fingerprint -------------------------------------------------------------


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of normalized text + min shingle hash (1-perm
    minhash) — the cheap join key for cross-corpus containment checks.

    The min-hash leg is exploded, not a transform() lambda: higher-order
    lambdas evaluate interpreted, so md5-per-shingle inside one was the module
    invariant's own anti-pattern (measured 0.41 s vs 0.30 s at sf0.1). After
    the doc_id repartition, the explode → md5 → min-agg runs colocated in
    codegen and the fingerprint join needs no exchange; docs with < 3 tokens
    surface as NULL via the left join (same as array_min of an empty list)."""
    from duckdb_ml_spark.operators.textnorm import exploded_shingles

    docs = load(spark, sf_dir, "documents").repartition("doc_id")
    base = docs.select("doc_id", F.md5(norm_text(F.col("text"))).alias("fingerprint"))
    minsh = (
        exploded_shingles(docs)
        .select("doc_id", F.md5("shingle").alias("h"))
        .groupBy("doc_id")
        .agg(F.min("h").alias("min_shingle_hash"))
    )
    return base.join(minsh, "doc_id", "left")


_FINGERPRINT_ORACLE = f"""
WITH t AS (SELECT doc_id, text, {tokens_sql("text")} AS w FROM documents)
SELECT doc_id,
       md5({norm_text_sql("text")}) AS fingerprint,
       list_min(list_transform(
           list_transform(generate_series(1, len(w) - 2),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]),
           s -> md5(s))) AS min_shingle_hash
FROM t
"""


# --- BPE-ish token counting ----------------------------------------------------

_BPE_PATTERN = "[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9 ]"


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-word-ish token counting with a BPE-flavored regex (letters runs,
    capitalized runs, digit runs, single punctuation) — the cheap JVM-only
    proxy for tokenizer-cost estimation (oracle-paired). The REAL merge-table
    BPE (distributed word counts → Sennrich merges → greedy encoding) is
    operators/bpe.py / `text_bpe_real`; this regex form stays as the
    zero-Python scan-speed estimate."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPE_PATTERN)).alias("n_bpeish"),
        (F.length("text") - F.length(F.regexp_replace("text", " ", ""))).alias("n_spaces"),
    )


_BPE_ORACLE = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS n_bpeish,
       length(text) - length(replace(text, ' ', '')) AS n_spaces
FROM documents
"""


# --- vocabulary --------------------------------------------------------------

VOCAB_TOP_K = 100


def vocab_topk(spark: SparkSession, sf_dir: str, k: int = VOCAB_TOP_K) -> DataFrame:
    """Corpus vocabulary: top-k tokens by document+total frequency — the
    tokenizer-training / stopword-mining primitive.

    Two independent branches, each a map-side-combinable count whose exchange
    is VOCAB-sized: n_total from exploding the full token array, n_docs from
    exploding `array_distinct` of the same array (per-doc distinctness is a
    row-local property — each document is one row, so no (tok, doc_id)
    aggregate is ever needed). The former single-pass form grouped by
    (tok, doc_id) first, which shuffled every distinct (token, doc) pair —
    ~150M rows at the 256× probe vs thousands here; paying a second
    scan+tokenize is measured 1.7× cheaper than that exchange (5.97 → 3.50 s,
    bench/VOCAB_VARIANTS_x256_r11.json; a marked single-scan variant with an
    interpreted `transform` lambda lost to BOTH, 6.74 s — the HOF rule). At
    100 TB both branch shuffles stay vocab-sized; the extra scan is the
    standard column-store trade."""
    docs = load(spark, sf_dir, "documents")
    tot = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_total"))
    )
    nd = (
        docs.select(F.explode(F.array_distinct(tokens(F.col("text")))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        tot.join(nd, "tok")
        .orderBy(F.desc("n_total"), F.asc("tok"))
        .limit(k)
        .select("tok", "n_total", "n_docs")
    )


_VOCAB_ORACLE = f"""
WITH t AS (SELECT doc_id, unnest({tokens_sql("text")}) AS tok FROM documents)
SELECT tok, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM t GROUP BY tok
ORDER BY n_total DESC, tok ASC
LIMIT {VOCAB_TOP_K}
"""


KEYWORDS_PER_DOC = 3


def keywords_topk(spark: SparkSession, sf_dir: str, k: int = KEYWORDS_PER_DOC) -> DataFrame:
    """Per-document keyword extraction: top-k tokens by TF-IDF-style score.

    Ordering uses tf/df (double division of integers — IEEE correctly-rounded,
    bit-identical across engines) instead of tf·log(N/df): same ranking as
    log-IDF for fixed N, but free of libm ulp divergence that would break the
    value-hash oracle. Ties break on token asc. Two shuffles: token df
    (broadcast back), per-doc rank."""
    # repartition docs by doc_id FIRST: the (doc_id, tok) aggregate, the score
    # join and the rank window are all clustered by doc_id, so after this one
    # compact-doc exchange they run colocated — the exploded token stream never
    # shuffles. Only the tok-keyed df rollup re-exchanges (distinct (doc, tok)
    # rows, already aggregated).
    docs = load(spark, sf_dir, "documents").repartition("doc_id")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    # tf has exactly one row per distinct (doc, tok), so document frequency is
    # a plain count over tf — no second explode, no count_distinct
    tf = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window

    scored = tf.join(F.broadcast(df_), "tok").select(
        "doc_id", "tok", "tf", "df", (F.col("tf").cast("double") / F.col("df")).alias("score")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "rank", "tok", "tf", "df")
    )


_KEYWORDS_ORACLE = f"""
WITH t AS (SELECT doc_id, unnest({tokens_sql("text")}) AS tok FROM documents),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
scored AS (
    SELECT doc_id, tok, tf, df, tf::DOUBLE / df AS score,
           row_number() OVER (PARTITION BY doc_id ORDER BY tf::DOUBLE / df DESC, tok ASC) AS rank
    FROM tf JOIN df USING (tok)
)
SELECT doc_id, rank, tok, tf, df FROM scored WHERE rank <= {KEYWORDS_PER_DOC}
"""


def source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality rollup — the keep/drop decision table for corpus
    curation (which sources produce short/degenerate documents)."""
    q = quality_score(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return (
        q.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("quality_score").alias("min_quality"),
        )
    )


def _source_quality_oracle() -> str:
    inner = _QUALITY_ORACLE.strip()
    return f"""
    WITH q AS ({inner})
    SELECT d.source, count(*) AS n_docs,
           round(avg(q.quality_score), 6) AS avg_quality,
           round(avg(d.n_chars), 6) AS avg_chars,
           min(q.quality_score) AS min_quality
    FROM q JOIN documents d USING (doc_id)
    GROUP BY d.source
    """


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: the fraction of
    bigrams taken by the single most frequent bigram, the fraction of duplicate
    bigrams, and the fraction of duplicate 5-grams. High values flag the
    degenerate boilerplate/spam documents a pretraining filter drops
    (Rae et al. 2021 'Scaling Language Models', table A1 uses exactly these
    n-gram families).

    Plan shape: both gram sizes run through the codegen position-explode path
    (HOF transform lambdas are interpreted — see textnorm.exploded_shingles)
    and aggregate as explode → (doc, gram) count → per-doc rollup. The
    documents are repartitioned by doc_id FIRST: hash-partitioning on doc_id
    satisfies the clustered-distribution requirement of every aggregate
    ((doc_id, g) is a superset clustering) and of the final joins, so the only
    exchange in the whole plan moves compact doc rows — the exploded gram
    streams and rollups never reshuffle; at scale the win grows with
    grams-per-doc. All ratios are single IEEE divisions of exact integers —
    bit-identical across engines, no rounding."""
    docs = load(spark, sf_dir, "documents")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("__w")).repartition("doc_id")

    def grams(n: int):
        starts = F.when(
            F.size("__w") >= n, F.sequence(F.lit(1), F.size("__w") - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        pos = toked.select("doc_id", "__w", F.explode(starts).alias("__i"))
        g = F.concat_ws(" ", *[F.element_at(F.col("__w"), F.col("__i") + j) for j in range(n)])
        return pos.select("doc_id", g.alias("g"))

    # bigram top/dup fractions: (doc, gram) count + per-doc rollup (colocated)
    per_bi = (
        grams(2)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("n_bi"),
            F.count(F.lit(1)).alias("n_uniq_bi"),
        )
    )
    # 5-gram totals/distincts via the same two-level rollup (no count_distinct
    # Expand, no HOF array build); short docs (< 5 tokens) reappear via the
    # left join with n5 = 0
    per_5 = (
        grams(5)
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.sum("c").alias("n5"), F.count(F.lit(1)).alias("n5u"))
    )
    joined = (
        toked.select("doc_id").join(per_bi, "doc_id", "left").join(per_5, "doc_id", "left")
    )
    n5 = F.coalesce(F.col("n5"), F.lit(0))
    return joined.select(
        "doc_id",
        F.coalesce(F.col("n_bi"), F.lit(0)).cast("bigint").alias("n_bigrams"),
        (F.col("top_c").cast("double") / F.col("n_bi")).alias("top_bigram_frac"),
        (F.lit(1.0) - F.col("n_uniq_bi").cast("double") / F.col("n_bi")).alias(
            "dup_bigram_frac"
        ),
        n5.cast("bigint").alias("n_5grams"),
        F.when(
            n5 > 0,
            F.lit(1.0) - F.col("n5u").cast("double") / n5,
        ).alias("dup_5gram_frac"),
    )


_REPETITION_ORACLE = f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS w FROM documents),
g5 AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 5
                THEN list_transform(generate_series(1, len(w) - 4),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])
                ELSE [] END AS grams
    FROM toks
),
five AS (SELECT doc_id, len(grams) AS n5, len(list_distinct(grams)) AS n5u FROM g5),
bi AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i+1])) AS g
    FROM toks
),
per_doc AS (
    SELECT doc_id, max(c)::BIGINT AS top_c, sum(c)::BIGINT AS n_bi, count(*)::BIGINT AS n_uniq_bi
    FROM (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g)
    GROUP BY doc_id
)
SELECT f.doc_id,
       coalesce(p.n_bi, 0)::BIGINT AS n_bigrams,
       p.top_c::DOUBLE / p.n_bi AS top_bigram_frac,
       1.0 - p.n_uniq_bi::DOUBLE / p.n_bi AS dup_bigram_frac,
       f.n5::BIGINT AS n_5grams,
       CASE WHEN f.n5 > 0 THEN 1.0 - f.n5u::DOUBLE / f.n5 END AS dup_5gram_frac
FROM five f LEFT JOIN per_doc p USING (doc_id)
"""


def unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's own
    unigram LM — the cheapest perplexity proxy in LLM-data quality filtering
    (docs of improbable tokens → low avg_logp → candidates for dropping).

    Plan: one explode → vocab counts (shuffle #1, |V| rows) → the vocab and the
    1-row total both BROADCAST back onto the token stream (map-side joins) →
    per-doc aggregate (shuffle #2). The token stream itself shuffles only once,
    keyed by doc_id. At 100 TB the vocab may exceed broadcast size — then the
    token⋈vocab join becomes a shuffle join on the token key, everything else
    unchanged; in practice unigram vocabs truncate to top-K and stay broadcast.
    Aggregates rounded to 6dp (summation-order noise); ln/exp differ ≤1 ulp
    across libms, absorbed by the same rounding."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = tok.agg(F.count(F.lit(1)).cast("double").alias("t"))
    lp = (
        tok.join(F.broadcast(counts), "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c") / F.col("t")).alias("logp"))
    )
    return lp.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(F.avg("logp"), 6).alias("avg_logp"),
        F.round(F.min("logp"), 6).alias("min_logp"),
        F.round(F.exp(-F.avg("logp")), 6).alias("ppl"),
    )


_UNIGRAM_LOGPROB_ORACLE = f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql("text")}) AS w FROM documents),
cnt AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
tot AS (SELECT count(*)::DOUBLE AS t FROM tok),
lp AS (
    SELECT doc_id, ln(c / t) AS logp
    FROM tok JOIN cnt USING (w) CROSS JOIN tot
)
SELECT doc_id,
       count(*)                 AS n_tokens,
       round(avg(logp), 6)      AS avg_logp,
       round(min(logp), 6)      AS min_logp,
       round(exp(-avg(logp)), 6) AS ppl
FROM lp GROUP BY doc_id
"""


# --- PII detection / redaction -----------------------------------------------
#
# The synthetic corpus carries no real PII, so the driver query AUGMENTS each
# doc deterministically from doc_id (both engines build the identical string:
# an email every 5th doc, a phone every 7th, an IP every 11th) and then runs
# the actual operator — regex detection counts + placeholder redaction — over
# the augmented text. The patterns are the portable subset (no lookbehind)
# that Java regex and RE2 interpret identically.

PII_EMAIL_RX = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
PII_PHONE_RX = "[0-9]{3}-[0-9]{4}"
PII_IP_RX = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def _placeholder_count(s, placeholder: str):
    """Occurrences of a literal placeholder via length arithmetic — three
    cheap codegen ops (replace/length), no extra regex pass."""
    return (
        (F.length(s) - F.length(F.replace(s, F.lit(placeholder), F.lit(""))))
        / F.lit(len(placeholder))
    ).cast("int")


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", mode: str = "arrow"
) -> DataFrame:
    """Per-doc PII inventory + redaction: the text with each match replaced
    by a typed placeholder (email → phone → IP) and counts per category =
    the number of redactions APPLIED per category (placeholders in the
    output — the auditable inventory: what was actually removed; a span
    swallowed by an earlier category counts once, under its redacted type).

    VERDICT r4 item 5 (was 6.2× at sf0.1, 4.5× at 16× — regex engine
    constant): detection is FUSED into redaction — one replace pass per
    category (3 total, was 6 regex passes: 3 counts + 3 replaces); counts
    come from literal placeholder arithmetic (post − pre occurrences, so a
    source that already contains a placeholder literal cannot inflate the
    inventory — exact on arbitrary text, no extra regex). Both engine
    modes were measured at the 16× probe, as prescribed: mode='arrow'
    (default) runs the three passes as a mapInPandas pyarrow/RE2 kernel
    (linear-time scan; md5/length stay JVM-side) — 0.80 s vs the fused JVM
    regexp_replace chain's 2.0 s at 16× (≈1.2× vs DuckDB, inside the ≤2×
    target; JVM java.util.regex is the slow constant). mode='fused' keeps
    the pure-JVM chain (no Python worker dependency), pytest-equivalent."""
    t = F.col(text_col)
    if mode == "arrow":
        import pyarrow as pa
        import pyarrow.compute as pc

        def gen(batches):
            for pdf in batches:
                arr = pa.Array.from_pandas(pdf[text_col])
                r = pc.replace_substring_regex(arr, pattern=PII_EMAIL_RX, replacement="<EMAIL>")
                r = pc.replace_substring_regex(r, pattern=PII_PHONE_RX, replacement="<PHONE>")
                r = pc.replace_substring_regex(r, pattern=PII_IP_RX, replacement="<IP>")
                out = pdf[[id_col]].copy()
                # counts = insertions: post-redaction occurrences MINUS any
                # placeholder literal already present in the source (exact on
                # arbitrary text — ADVICE r5: a corpus that happens to contain
                # '<EMAIL>' must not inflate the inventory; the regexes can
                # neither consume nor split a pre-existing placeholder, so the
                # difference is exactly the number of redactions applied)
                for nm, ph in (("n_emails", "<EMAIL>"), ("n_phones", "<PHONE>"), ("n_ips", "<IP>")):
                    out[nm] = (
                        pc.subtract(pc.count_substring(r, ph), pc.count_substring(arr, ph))
                        .to_pandas()
                    )
                out["red"] = r.to_pandas()
                yield out

        k = df.select(id_col, text_col).mapInPandas(
            gen, f"{id_col} bigint, n_emails int, n_phones int, n_ips int, red string"
        )
        return k.select(
            id_col, "n_emails", "n_phones", "n_ips",
            F.md5("red").alias("redacted_md5"),
            F.length("red").alias("redacted_len"),
        )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL_RX, "<EMAIL>"), PII_PHONE_RX, "<PHONE>"
        ),
        PII_IP_RX,
        "<IP>",
    )
    # materialize the redacted string ONCE per row (projection boundary);
    # inlining `red` into all five outputs would re-run the 3-regex chain per
    # output unless codegen CSE catches it — don't rely on that. Counts are
    # post − pre placeholder occurrences (see the arrow branch: exact on
    # arbitrary text, ADVICE r5).
    return df.select(
        id_col,
        t.alias("__src"),
        red.alias("__red"),
    ).select(
        id_col,
        (
            _placeholder_count(F.col("__red"), "<EMAIL>")
            - _placeholder_count(F.col("__src"), "<EMAIL>")
        ).alias("n_emails"),
        (
            _placeholder_count(F.col("__red"), "<PHONE>")
            - _placeholder_count(F.col("__src"), "<PHONE>")
        ).alias("n_phones"),
        (
            _placeholder_count(F.col("__red"), "<IP>")
            - _placeholder_count(F.col("__src"), "<IP>")
        ).alias("n_ips"),
        F.md5("__red").alias("redacted_md5"),
        F.length("__red").alias("redacted_len"),
    )


def _pii_augmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 5 == 0, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.concat(F.lit(" call 555-"), F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.concat(F.lit(" from 192.168."), (d % 256).cast("string"), F.lit("."), ((d * 7) % 256).cast("string"))).otherwise(F.lit("")),
    )
    return docs.select("doc_id", aug.alias("text"))


def _pii_redact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return redact_pii(_pii_augmented(spark, sf_dir))


_PII_ORACLE = f"""
WITH aug AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 5 = 0
                   THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' from 192.168.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR
                   ELSE '' END AS text
    FROM documents
),
red AS (
    SELECT doc_id, text,
           regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{PII_EMAIL_RX}', '<EMAIL>', 'g'),
                   '{PII_PHONE_RX}', '<PHONE>', 'g'),
               '{PII_IP_RX}', '<IP>', 'g') AS r
    FROM aug
)
SELECT doc_id,
       ((length(r) - length(replace(r, '<EMAIL>', ''))) / 7)::INT
         - ((length(text) - length(replace(text, '<EMAIL>', ''))) / 7)::INT AS n_emails,
       ((length(r) - length(replace(r, '<PHONE>', ''))) / 7)::INT
         - ((length(text) - length(replace(text, '<PHONE>', ''))) / 7)::INT AS n_phones,
       ((length(r) - length(replace(r, '<IP>', ''))) / 4)::INT
         - ((length(text) - length(replace(text, '<IP>', ''))) / 4)::INT AS n_ips,
       md5(r) AS redacted_md5,
       length(r)::INT AS redacted_len
FROM red
"""


# --- overlapping token-window chunking ---------------------------------------

CHUNK_W = 32  # tokens per chunk
CHUNK_S = 24  # stride (CHUNK_W - CHUNK_S = 8 tokens of overlap)


def chunk_stride(
    df: DataFrame,
    window: int = CHUNK_W,
    stride: int = CHUNK_S,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping fixed-token chunks — the RAG /
    context-window preprocessing every retrieval or embedding pipeline runs
    before encoding: chunk i covers tokens [i*stride, i*stride + window),
    the tail chunk is shorter, a doc with <= window tokens is one chunk.

    n_chunks = 1 + ceil(max(0, n - window) / stride), so consecutive chunks
    overlap by window - stride tokens and every token is covered.

    Plan: map-only — tokenize once, explode `sequence(0, n_chunks-1)`, build
    each chunk with slice + concat_ws (codegen builtins; the token array is
    carried per exploded row, same linear-copy asymptotics as
    exploded_shingles). No shuffle at any scale."""
    ws = tokens(F.col(text_col))
    base = df.select(id_col, ws.alias("__w")).select(
        id_col, "__w", F.size("__w").cast("bigint").alias("n")
    )
    n = F.col("n")
    n_chunks = 1 + F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(stride)).cast("bigint")
    ch = base.select(
        id_col, "__w", "n", F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id")
    )
    start = F.col("chunk_id") * stride
    clen = F.least(F.lit(window), n - start)
    return ch.select(
        id_col,
        "chunk_id",
        start.cast("bigint").alias("tok_start"),
        clen.cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(
            " ", F.slice("__w", (start + 1).cast("int"), clen.cast("int"))
        ).alias("chunk_text"),
    )


def _chunk_stride_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunk_stride(load(spark, sf_dir, "documents"))


_CHUNK_ORACLE = f"""
WITH t AS (
    SELECT doc_id, {tokens_sql("text")} AS ws FROM documents
),
b AS (
    SELECT doc_id, ws, len(ws) AS n,
           1 + ceil(greatest(n - {CHUNK_W}, 0) / {CHUNK_S}.0)::BIGINT AS n_chunks
    FROM t
)
SELECT doc_id, chunk_id,
       (chunk_id * {CHUNK_S})::BIGINT AS tok_start,
       least({CHUNK_W}, n - chunk_id * {CHUNK_S})::BIGINT AS n_chunk_tokens,
       array_to_string(ws[(chunk_id * {CHUNK_S} + 1)::INT
                         : (chunk_id * {CHUNK_S} + least({CHUNK_W}, n - chunk_id * {CHUNK_S}))::INT],
                       ' ') AS chunk_text
FROM b, LATERAL unnest(generate_series(0, n_chunks - 1)) AS u(chunk_id)
"""


# --- BM25 relevance scoring ---------------------------------------------------


BM25_TERMS = ("dup", "join", "filter")  # rare + two common corpus terms
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_scores(
    spark: SparkSession, sf_dir: str, terms: tuple[str, ...] = BM25_TERMS
) -> DataFrame:
    """BM25 relevance of every document against a fixed keyword query — the
    retrieval scorer used to mine topic-targeted training data from a corpus
    (keyword-seeded retrieval before an embedding pass).

    Log-free determinism (the keywords_topk 'libm-free' discipline): the
    standard ln-idf differs by ulps across libms, so this uses the ODDS idf
    (N−df+0.5)/(df+0.5) — the argument of the Robertson log, monotone in
    it, so ranking-equivalent.

    r9 INTEGER-RATIONAL contract (VERDICT r8 item 2). RESOLVED r11: the
    r8-r10 driver-reds were the oracle's uncast `sum(CASE…) AS tf_{t}` —
    DuckDB HUGEINT vs Spark LONG under typed serialization (the r10
    bisects proved it: tf RED while num/den/score, exact functions of tf
    but `::BIGINT`/`::DOUBLE`-cast, were GREEN); `::BIGINT` on tf fixed
    it. The rational contract itself stays: each term's score is an exact
    INT64 RATIONAL pair. With
    k1 = 6/5, b = 3/4 (asserted), clearing denominators gives

        score_t = num_t / den_t
        num_t   = 22·sum_dl·tf·(2N − 2df + 1)
        den_t   = (2df + 1)·(10·tf·sum_dl + 3·sum_dl + 9·dl·N)

    — pure integer arithmetic from the exact corpus stats (tf, df, dl, N,
    sum_dl); no float literal exists anywhere. The hashed columns are the
    num/den pairs plus a `score` double derived per row by the pinned left
    fold Σ num_t/den_t (3 IEEE divisions + 2 additions in fixed order over
    identical int64s — bit-identical on any engine: int64→double conversion
    and IEEE arithmetic are deterministic even above 2^53). INT64 bound:
    |num_t| ≤ 44·sum_dl·N·tf — safe while sum_dl·N·tf < 2·10¹⁷ (holds
    through ~10⁹-token corpora per scoring scope; a 100 TB global corpus
    scores per-shard/per-source partitions, which is also the retrieval
    sharding you want).

    Output: (doc_id, dl, tf_<term>…, num_<term>, den_<term>…, score), docs
    matching ≥1 term.

    Scale shape: one explode→per-doc conditional-count shuffle (tf's and dl
    in a single groupBy), a 1-row corpus-stats aggregate broadcast back, and
    a stateless score projection — two jobs, one wide shuffle keyed by
    doc_id, no skew (df/N/sum_dl are scalars)."""
    import functools
    import operator

    # the 22/10/3/9 integerization above is the cleared-denominator form of
    # exactly k1=6/5, b=3/4 — a different parameterization needs re-deriving
    assert (BM25_K1, BM25_B) == (1.2, 0.75)
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    per = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{t}")
            for t in terms
        ],
    )
    corpus = per.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in terms
        ],
    )
    j = per.crossJoin(F.broadcast(corpus))
    n, sd, dl = F.col("n_docs"), F.col("sum_dl"), F.col("dl")

    def term_rational(t: str):
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        num = F.lit(22) * sd * tf * (F.lit(2) * n - F.lit(2) * df + F.lit(1))
        den = (F.lit(2) * df + F.lit(1)) * (
            F.lit(10) * tf * sd + F.lit(3) * sd + F.lit(9) * dl * n
        )
        return num.alias(f"num_{t}"), den.alias(f"den_{t}")

    rat = [term_rational(t) for t in terms]
    # explicit left fold over ALL terms (ADVICE r8 low: the old (s0+s1)+s2
    # hardcode silently dropped terms beyond 3 and crashed under 3)
    score = functools.reduce(
        operator.add,
        [
            F.col(f"num_{t}").cast("double") / F.col(f"den_{t}").cast("double")
            for t in terms
        ],
    )
    matched = sum(F.col(f"tf_{t}") for t in terms) > 0
    # ADVICE r9 low: Spark wraps bigint multiplication silently (non-ANSI)
    # while DuckDB raises — past the docstring bound the engines would
    # diverge QUIETLY. Turn the documented limit into an explicit runtime
    # error, guarding BOTH dominators (ADVICE r10 low: den_t's 9·dl·N term
    # is NOT dominated by the num guard when dl > ~2.4·avg_dl·max_tf — a
    # long doc of common terms could wrap den_t alone):
    #   num_t ≤ 44·sum_dl·max_tf·N           (2N−2df+1 ≤ 2N)
    #   den_t ≤ (2N+1)·(10·max_tf·sum_dl + 3·sum_dl + 9·dl·N)   (df ≤ N)
    # both checked in DOUBLE against 2^62 (a 2× safety margin absorbs the
    # double approximation). assert_true is evaluated in-plan per surviving
    # row — no extra job, fails the task with an actionable message instead
    # of wrapping.
    max_tf = (
        F.col(f"tf_{terms[0]}")
        if len(terms) == 1
        else F.greatest(*[F.col(f"tf_{t}") for t in terms])
    )
    sd_d, n_d, tf_d = sd.cast("double"), n.cast("double"), max_tf.cast("double")
    dl_d = dl.cast("double")
    den_bound = (F.lit(2.0) * n_d + F.lit(1.0)) * (
        F.lit(10.0) * tf_d * sd_d + F.lit(3.0) * sd_d + F.lit(9.0) * dl_d * n_d
    )
    guard = F.assert_true(
        (F.lit(44.0) * sd_d * n_d * tf_d < F.lit(float(1 << 62)))
        & (den_bound < F.lit(float(1 << 62))),
        F.lit(
            "text_bm25_scores: INT64 rational bound exceeded "
            "(num or den dominator approaches 2^63) - score per-shard/"
            "per-source partitions instead (see docstring)"
        ),
    )
    return (
        j.where(matched & guard.isNull())
        .select("doc_id", "dl", *[f"tf_{t}" for t in terms], *[c for pair in rat for c in pair])
        .select("*", score.alias("score"))
    )


def _bm25_oracle(terms: tuple[str, ...] = BM25_TERMS) -> str:
    """Oracle twin of bm25_scores: the SAME integer rationals (bare integer
    literals only — DECIMAL never enters) and the same pinned left-fold
    double score via explicit ::DOUBLE casts."""
    assert (BM25_K1, BM25_B) == (1.2, 0.75)
    tf_cols = ",\n           ".join(
        f"sum(CASE WHEN w = '{t}' THEN 1 ELSE 0 END)::BIGINT AS tf_{t}" for t in terms
    )
    df_cols = ",\n           ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END)::BIGINT AS df_{t}"
        for t in terms
    )
    rat_cols = ",\n       ".join(
        f"(22 * sum_dl * tf_{t} * (2 * n_docs - 2 * df_{t} + 1))::BIGINT AS num_{t},\n"
        f"       ((2 * df_{t} + 1) * (10 * tf_{t} * sum_dl + 3 * sum_dl + 9 * dl * n_docs))::BIGINT AS den_{t}"
        for t in terms
    )
    # explicit left fold — parenthesized so the addition order is pinned
    score = functools_left_fold(
        [f"(num_{t}::DOUBLE / den_{t}::DOUBLE)" for t in terms]
    )
    tf_out = ", ".join(f"tf_{t}" for t in terms)
    rat_out = ", ".join(f"num_{t}, den_{t}" for t in terms)
    any_tf = " + ".join(f"tf_{t}" for t in terms)
    return f"""
WITH tok AS (SELECT doc_id, unnest({tokens_sql("text")}) AS w FROM documents),
per AS (
    SELECT doc_id, count(*) AS dl,
           {tf_cols}
    FROM tok GROUP BY doc_id
),
corpus AS (
    SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl,
           {df_cols}
    FROM per
),
rat AS (
    SELECT doc_id, dl, {tf_out},
       {rat_cols}
    FROM per CROSS JOIN corpus
    WHERE {any_tf} > 0
)
SELECT doc_id, dl, {tf_out}, {rat_out},
       {score} AS score
FROM rat
"""


def functools_left_fold(exprs: list[str]) -> str:
    """((e0 + e1) + e2) + … — the pinned-association SQL sum (shared by the
    BM25 oracle; mirrors the Spark-side functools.reduce fold)."""
    out = exprs[0]
    for e in exprs[1:]:
        out = f"({out} + {e})"
    return out


# --- count-min frequency sketch ----------------------------------------------

# d=2 hash rows × CM_WIDTH counters: the fixed-size frequency sketch
# (Cormode & Muthukrishnan 2005). est(word) = min over rows of its counter —
# always ≥ the true count (collisions only ADD). Built from the repo's
# cross-engine md5 hash, so — like dq_distinct_sketch and unlike engine HLLs —
# the RAW counter values and estimates hash-pair between engines.
CM_WIDTH = 1024
CM_DEPTH = 2
_CM_SALT = "cm"  # ONE salt: both rows' buckets split from a single 60-bit hash


def _cm_hash(col):
    """The ONE 60-bit md5 hash both count-min rows split from (r10 one-hash
    split, VERDICT r9 item 4: the r9 form paid TWO md5-of-string probes per
    token — 10.6-11.9 s absolute at the 64×/256× probes, md5-dominated).
    MUST be materialized as its own projection column before fan-out:
    Spark's Generate (explode) re-evaluates the generator expression per
    reference — an inlined hash is computed once per PROBE, not once per
    value (measured at 64×: inline split 13.3 s vs materialized 7.6 s vs
    the old two-salt form 11.0 s). SQL twin: _cm_buckets_sql (callers
    SELECT h once in a CTE for the same reason)."""
    from duckdb_ml_spark.operators.sampling import hash_uint

    return hash_uint(col, _CM_SALT, 15)  # 60-bit uniform, one md5


def _cm_buckets(h) -> tuple:
    """The d=2 bucket columns from a MATERIALIZED _cm_hash column: 30-bit
    halves of one md5 are uniform and independent, so d=2 collision behavior
    matches two independent hashes while md5 work halves — the same split
    recipe as the Bloom probes (operators/pipeline.py:_bloom_probes)."""
    return (h % CM_WIDTH, F.shiftright(h, 30) % CM_WIDTH)


def _cm_buckets_sql(expr: str) -> tuple:
    """(b0_sql, b1_sql, h_sql): callers SELECT h once in a CTE, then derive
    b0/b1 from the column `h` — one md5 per value on the oracle side too."""
    from duckdb_ml_spark.operators.sampling import _hash_uint_sql

    return (
        f"h % {CM_WIDTH}",
        f"(h // {1 << 30}) % {CM_WIDTH}",
        _hash_uint_sql(expr, _CM_SALT, 15),
    )


def countmin_counters(words: DataFrame) -> DataFrame:
    """(r, b, c): the d×CM_WIDTH counter table over a one-column word
    stream. Map-side combinable sum — the shuffle carries ≤ d·width rows per
    input partition regardless of vocabulary size (the whole point at
    100 TB: frequency estimation with fixed state, no per-word shuffle).
    Width is pinned to CM_WIDTH: the one-hash split recipe and its SQL twin
    (_cm_buckets/_cm_buckets_sql) encode it — a configurable width would
    silently decouple from the oracle (review finding r10: the old `width`
    parameter was dead under -O once the assert stripped)."""
    hh = words.select(_cm_hash(F.col("w")).alias("__h"))  # ONE md5 per value
    probes = F.array(
        *[
            F.struct(F.lit(i).alias("r"), b.alias("b"))
            for i, b in enumerate(_cm_buckets(F.col("__h")))
        ]
    )
    return (
        hh.select(F.explode(probes).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_topk_audit(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """(word, n_exact, n_est) for the exact top-k corpus words: the count-min
    estimate joined against ground truth — the sketch-validation table
    (n_est ≥ n_exact by construction; equality when the word's two buckets
    are collision-free). Exact side is the comparator, sketch side is the
    scale path — same audit discipline as events_distinct_users_approx.

    r10 one-pass plan: the audit needs the exact per-word counts ANYWAY, so
    the counter table is derived from the vocabulary relation (sum of n over
    words per bucket) — algebraically IDENTICAL to counting per occurrence
    (Σ_occurrences 1 = Σ_vocab n) but it tokenizes the corpus ONCE instead
    of twice and hashes |vocab| words instead of |tokens| (the r9 form paid
    both full passes; 8.4 s → the tokenize+count pass alone at 256×). The
    raw-stream fixed-state sketch path (countmin_counters — the production
    form that never materializes a vocabulary) stays exercised by
    stream_countmin_users and the pytest invariants."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    wc = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n_exact"))

    hh = wc.select("n_exact", _cm_hash(F.col("w")).alias("__h"))
    probes = F.array(
        *[
            F.struct(F.lit(i).alias("r"), b.alias("b"))
            for i, b in enumerate(_cm_buckets(F.col("__h")))
        ]
    )
    cm = (
        hh.select("n_exact", F.explode(probes).alias("p"))
        .groupBy(F.col("p.r").alias("r"), F.col("p.b").alias("b"))
        .agg(F.sum("n_exact").alias("c"))
    )

    # one projection over the top-k, each bucket inlining the hash (two md5s
    # per top row, k rows). A separate __h column stays its own projection
    # between the limit and its sort (CollapseProject will not duplicate the
    # md5), so the pair planned as a codegen'd GlobalLimit, whose generated
    # counter name is fresh at every planning: the row compiled 4 new
    # classes on every call. Limit(Project(Sort)) plans as one
    # TakeOrderedAndProject instead.
    top = wc.orderBy(F.desc("n_exact"), F.asc("w")).limit(k)
    buckets = _cm_buckets(_cm_hash(F.col("w")))
    top = top.select("w", "n_exact", *[b.alias(f"__b{i}") for i, b in enumerate(buckets)])
    for i in range(len(buckets)):
        c_i = cm.where(F.col("r") == i).select(
            F.col("b").alias(f"__b{i}"), F.col("c").alias(f"__c{i}")
        )
        top = top.join(F.broadcast(c_i), f"__b{i}")
    return top.select(
        F.col("w").alias("word"),
        "n_exact",
        F.least("__c0", "__c1").cast("bigint").alias("n_est"),
    )


def _countmin_oracle(k: int = 20) -> str:
    # vocab-derived counters, mirroring the Spark one-pass plan (sum of n
    # over words per bucket == count over occurrences — identical values)
    b0, b1, h = _cm_buckets_sql("w")
    return f"""
WITH toks AS (SELECT unnest({tokens_sql("text")}) AS w FROM documents),
vocab AS (SELECT w, count(*)::BIGINT AS n_exact FROM toks GROUP BY w),
hh AS (SELECT w, n_exact, {h} AS h FROM vocab),
hashed AS (SELECT w, n_exact, {b0} AS b0, {b1} AS b1 FROM hh),
c0 AS (SELECT b0 AS b, sum(n_exact)::BIGINT AS c FROM hashed GROUP BY 1),
c1 AS (SELECT b1 AS b, sum(n_exact)::BIGINT AS c FROM hashed GROUP BY 1),
top AS (
    SELECT w, b0, b1, n_exact
    FROM hashed
    ORDER BY n_exact DESC, w ASC LIMIT {k}
)
SELECT t.w AS word, t.n_exact, least(c0.c, c1.c)::BIGINT AS n_est
FROM top t JOIN c0 ON c0.b = t.b0 JOIN c1 ON c1.b = t.b1
"""


QUERIES: dict[str, QuerySpec] = {
    "text_countmin_freq": QuerySpec(
        "text_countmin_freq", countmin_topk_audit, _countmin_oracle(),
        doc="Count-min frequency sketch audit: d=2×1024 cross-engine-"
        "deterministic counters, estimates (always ≥ exact) joined against "
        "the exact top-20 words.",
        tags=("text", "sketch", "approx"),
    ),
    "text_bm25_scores": QuerySpec(
        "text_bm25_scores", bm25_scores, _bm25_oracle(),
        doc="BM25 keyword relevance per doc (odds-idf variant; r9: exact "
        "INT64 rational num/den per term — no float/DECIMAL literal on "
        "either engine — plus the pinned left-fold double score).",
        tags=("text", "retrieval", "bm25"),
    ),
    "text_chunk_stride": QuerySpec(
        "text_chunk_stride", _chunk_stride_q, _CHUNK_ORACLE,
        doc="Overlapping fixed-token chunking (window 32, stride 24) — the "
        "RAG/embedding context-window splitter; map-only codegen plan.",
        tags=("text", "chunking", "pipeline"),
    ),
    "text_pii_redact": QuerySpec(
        "text_pii_redact", _pii_redact_q, _PII_ORACLE,
        doc="PII detection counts + typed-placeholder redaction (email/phone/IP) "
        "over deterministically augmented text; map-only codegen scan.",
        tags=("text", "pii", "pipeline"),
    ),
    "text_unigram_logprob": QuerySpec(
        "text_unigram_logprob", unigram_logprob, _UNIGRAM_LOGPROB_ORACLE,
        doc="Per-doc avg unigram log-prob under the corpus unigram LM (perplexity proxy).",
        tags=("text", "quality", "pipeline"),
    ),
    "text_repetition_signals": QuerySpec(
        "text_repetition_signals", repetition_signals, _REPETITION_ORACLE,
        doc="Gopher-style per-doc repetition fractions (top/dup bigram, dup 5-gram).",
        tags=("text", "quality", "pipeline"),
    ),
    "text_vocab_topk": QuerySpec(
        "text_vocab_topk", vocab_topk, _VOCAB_ORACLE,
        doc="Top-100 corpus vocabulary by frequency (+ document frequency).", tags=("text", "vocab"),
    ),
    "text_source_quality": QuerySpec(
        "text_source_quality", source_quality, _source_quality_oracle(),
        doc="Per-source quality rollup (corpus-curation decision table).", tags=("text",),
    ),
    "text_keywords_topk": QuerySpec(
        "text_keywords_topk", keywords_topk, _KEYWORDS_ORACLE,
        doc="Per-doc top-3 keywords by TF-IDF-style tf/df ranking (libm-free).",
        tags=("text", "tfidf"),
    ),
    "text_token_stats": QuerySpec(
        "text_token_stats", token_stats, _TOKEN_STATS_ORACLE,
        doc="Char/token/unique-token counts per document.", tags=("text",),
    ),
    "text_quality_score": QuerySpec(
        "text_quality_score", quality_score, _QUALITY_ORACLE,
        doc="Alpha/uniq/stopword ratios + combined quality score.", tags=("text",),
    ),
    "text_lang_id": QuerySpec(
        "text_lang_id", lang_id, _lang_id_oracle(),
        doc="Stopword-argmax language heuristic (en/fr/es/de).", tags=("text",),
    ),
    "text_fingerprint": QuerySpec(
        "text_fingerprint", doc_fingerprint, _FINGERPRINT_ORACLE,
        doc="md5 content fingerprint + 1-perm minhash per doc.", tags=("text",),
    ),
    "text_token_count_bpe": QuerySpec(
        "text_token_count_bpe", token_count_bpe, _BPE_ORACLE,
        doc="BPE-ish regex token counting.", tags=("text",),
    ),
}
