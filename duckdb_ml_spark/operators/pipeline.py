"""Training-data pipeline operators: decontamination + sequence packing.

Two operations every large-scale LLM data pipeline needs beyond dedup:

- **Benchmark decontamination**: drop/flag training documents that share
  n-grams with an evaluation set, so eval benchmarks aren't memorized. The
  industry-standard shape (e.g. GPT-3 appendix C, PaLM §7) is n-gram overlap:
  any train doc sharing ≥1 13-gram (here 3-gram, sized to the tiny synthetic
  texts) with any eval doc is contaminated.
- **Sequence packing**: LLM pretraining concatenates documents into
  fixed-capacity token blocks ("packs"). The concat-then-chunk discipline
  assigns each doc to the pack containing its first token: pack_id =
  floor(tokens_before / capacity) with tokens_before a running sum in a
  deterministic order. Packing is per-source so the running sum never needs a
  global single-partition window — at 100 TB each source packs independently
  in parallel (window partitioned by source), exactly how sharded corpora
  are packed in practice.

Eval-set definition for the driver-checked queries: doc_id % 17 == 0 — a
deterministic pseudo-benchmark both engines can reproduce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duckdb_ml_spark.memo import memo
from duckdb_ml_spark.operators.textnorm import exploded_shingles, tokens, tokens_sql
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

EVAL_MOD = 17  # doc_id % EVAL_MOD == 0 → eval-set member
PACK_CAPACITY = 256  # tokens per pack


# --- decontamination ---------------------------------------------------------

# Materialized corpus shingle relation, shared across the decontam family
# (decontaminate_train / pipeline_containment / pipeline_curate — VERDICT r3
# item 4: each used to rebuild the exploded shingles from scratch). Shingling
# is per-document, so every sub-corpus's shingles are a doc_id FILTER of the
# full relation. localCheckpoint(eager) materializes (doc_id, shingle) to
# executor storage once per (session, sf_dir); at 100 TB this is the
# precomputed n-gram index every production decontam pipeline maintains as a
# table — a dataset property, memoized like collect_matrix / the BPE merge
# table (builders that hit it cold are listed in _EXEC_AT_BUILD).


# Above this doc count the shingle relation is NOT localCheckpoint'ed:
# checkpoint blocks are deserialized Java-object rows, and every consumer
# tries to promote them from disk back into heap
# (BlockManager.maybeCacheDiskValuesInMemory → putIteratorAsValues) — at the
# r9 1024× probe (5.1 M docs ⇒ ~195 M (doc, shingle) rows) that promotion
# OOM'd the JVM heap outright. Above the gate the relation stays LAZY:
# shingling is one-pass scan-time work (tokenize + explode), which is exactly
# how a 100 TB decontam pipeline consumes its corpus — inline over the scan,
# with the persisted form being a parquet gram INDEX, not an in-memory cache.
# Measured on both sides of the gate (min-of-2, idle host): at 64× (320k
# docs) checkpoint WINS — decontam 9.8 s vs 11.9 s lazy, bloom 22.2 vs
# 25.2; at 1024× (5.1 M docs) checkpoint LOSES outright — 145 s (when it
# survived at all) vs 51 s lazy. The 1 M-doc gate sits inside that
# crossover band.
SHINGLE_CHECKPOINT_DOC_GATE = 1_000_000


def corpus_shingles(spark: SparkSession, sf_dir: str, n: int = 3) -> DataFrame:
    from duckdb_ml_spark.operators.dedup import _cached_count

    def build() -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        df = exploded_shingles(docs, n=n)
        if _cached_count(docs, (sf_dir, "documents", "rowcount")) <= SHINGLE_CHECKPOINT_DOC_GATE:
            df = df.localCheckpoint(eager=True)
        return df

    return memo(spark, (sf_dir, "shingles", n), build)


# Above this corpus doc count the decontam/containment eval-gram side is no
# longer force-broadcast: at the r9 1024× probe (5.1 M docs) the mod-17
# pseudo-benchmark expands to ~11 M distinct grams, and the PINNED broadcast
# hash relation starved the per-doc aggregation to AGGREGATE_OUT_OF_MEMORY
# (same failure mode as the span-fraction SHUFFLE_HASH builds, fixed the same
# way: size-gate the strategy). Below the gate (≤ ~2.2 M grams ≈ 100 MB) the
# broadcast-semi-join stays — it is the right plan for REAL benchmarks, whose
# gram sets are corpus-independent (~10⁴-10⁶). Above it the join falls back
# to spillable sort-merge; at true 100 TB the answer is decontaminate_bloom,
# whose filter is ~1 byte/gram and stays broadcastable ~50× longer.
DECONTAM_BROADCAST_DOC_GATE = 1_000_000


def contaminated_from_shingles(
    train_shingles: DataFrame,
    eval_shingles: DataFrame,
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """(doc_id, n_shared) from precomputed (doc, shingle) relations: every
    train doc sharing ≥1 distinct n-gram with ANY eval doc; n_shared is the
    "contamination mass" used for thresholding.

    Scale shape: a corpus-independent eval gram set (real benchmarks,
    ~10⁴-10⁶ grams) BROADCASTS; the train shingle stream joins it map-side
    and only matching (doc, shingle) rows reach the one groupBy shuffle —
    the canonical decontamination plan. Pass broadcast_eval=False when the
    eval side scales with the corpus (see DECONTAM_BROADCAST_DOC_GATE)."""
    ev_sh = eval_shingles.select("shingle").distinct()
    if broadcast_eval:
        ev_sh = F.broadcast(ev_sh)
    # filter FIRST (map-side broadcast join), dedup AFTER: only eval-matching
    # (doc, shingle) rows ever reach the shuffle, and countDistinct dedups the
    # train doc's repeated shingles in the same agg pass
    return (
        train_shingles.join(ev_sh, "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


def contaminated_docs(
    train: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """contaminated_from_shingles over freshly-exploded shingles of arbitrary
    train/eval DataFrames (the API-level entry; the driver queries share the
    materialized corpus_shingles relation instead)."""
    return contaminated_from_shingles(
        exploded_shingles(train, text_col=text_col, id_col=id_col, n=n),
        exploded_shingles(eval_docs, text_col=text_col, id_col=id_col, n=n),
        id_col=id_col,
    )


def _broadcast_eval_ok(spark: SparkSession, sf_dir: str) -> bool:
    """True while the mod-17 pseudo-benchmark's gram set is broadcast-safe
    (corpus ≤ DECONTAM_BROADCAST_DOC_GATE docs; memoized count)."""
    from duckdb_ml_spark.operators.dedup import _cached_count

    n = _cached_count(load(spark, sf_dir, "documents"), (sf_dir, "documents", "rowcount"))
    return n <= DECONTAM_BROADCAST_DOC_GATE


def _decontam_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = corpus_shingles(spark, sf_dir)
    return contaminated_from_shingles(
        sh.where(F.col("doc_id") % EVAL_MOD != 0),
        sh.where(F.col("doc_id") % EVAL_MOD == 0),
        broadcast_eval=_broadcast_eval_ok(spark, sf_dir),
    )


_DECONTAM_ORACLE = f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS w FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
ev AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % {EVAL_MOD} = 0)
SELECT d.doc_id, count(*)::BIGINT AS n_shared
FROM dsh d JOIN ev ON d.shingle = ev.shingle
WHERE d.doc_id % {EVAL_MOD} != 0
GROUP BY d.doc_id
"""


# --- Bloom-filter decontamination variant ------------------------------------

# Portable blocked Bloom filter built from the repo's cross-engine md5 hash
# (sampling.hash_uint). Spark's internal bloom_filter_agg/might_contain pair is
# not registered as a public SQL function (checked on this build: 4.1.2 raises
# UNRESOLVED_ROUTINE), and its sketch bytes would be engine-private anyway —
# this filter is plain BIGINT words + bit_or aggregation, so the SAME filter is
# computable by any engine and the whole plan stays in whole-stage codegen.
BLOOM_WORDS = 8192  # 63-bit words → ~516k bits (~64 KB filter)
BLOOM_BITS = 63  # bits used per BIGINT word (sign bit left alone)
_BLOOM_SALT = "bloom"  # ONE salt: both probes split from a single 60-bit hash
_BLOOM_SPLIT = 1 << 30  # low/high 30-bit halves → k=2 independent probes


def _bloom_probes(shingle, n_words: int, hash_fn: str = "portable"):
    """k=2 (word_idx, mask) column pairs for one shingle value.

    r10 ONE-HASH SPLIT (VERDICT r9 item 3: the r9 form ran TWO md5-of-string
    probes per shingle per side — 4.6×/4.1× vs DuckDB at the 64×/256× probes,
    md5 dominating both engines): ONE 60-bit hash per shingle, split into
    independent 30-bit halves (low = h % 2^30, high = h >> 30), each half
    yielding one (word, bit) probe. Halves of one md5 are uniform and
    independent, so the k=2 FP rate is unchanged; md5 work is halved.

    Word index is EXACT-INTEGER arithmetic (ADVICE r9 medium: the old
    `(h / 63)::bigint` double quotient exceeds 2^53 for h up to 2^60, so it
    differed from floor division for many hashes; correctness survived only
    because build and probe shared the expression). Here sub < 2^30, and
    (sub - sub % 63) / 63 is an exact integer-valued division (numerator a
    multiple of 63, magnitude < 2^30 « 2^53) — bit-equal to integer floor
    division in ANY engine, so an SQL twin of the filter is well-defined:

        h    = ('0x' || substr(md5('bloom:' || shingle), 1, 15))::BIGINT
        subA = h % 1073741824          subB = h // 1073741824
        wi   = (sub // 63) % 8192      mask = 1 << (sub % 63)

    hash_fn="xxhash64": the non-oracle production path (same pattern as
    minhash_signatures) — one JVM xxhash64 instead of md5+substr+conv,
    masked to 60 bits. Output of decontaminate_bloom is IDENTICAL under
    either hash (exact verify removes all false positives); only the
    md5-portable form is what the shared DuckDB oracle can replicate."""
    return _bloom_probes_from(_bloom_hash(shingle, hash_fn), n_words)


def _bloom_hash(shingle, hash_fn: str = "portable"):
    """The ONE 60-bit hash both probes split from. Hot paths MUST materialize
    it as its own projection column (`.withColumn("__h", _bloom_hash(...))`)
    before deriving probes: Spark re-evaluates an inlined expression once per
    REFERENCE (4 here — two words + two masks), not once per value (measured
    on the count-min twin at 64×: inline 13.3 s vs materialized 7.6 s)."""
    from duckdb_ml_spark.operators.sampling import hash_uint

    if hash_fn == "xxhash64":
        return F.xxhash64(F.lit(_BLOOM_SALT), shingle).bitwiseAND(
            F.lit((1 << 60) - 1)
        )
    return hash_uint(shingle, _BLOOM_SALT, 15)  # 60-bit uniform, one md5


def _bloom_probes_from(h, n_words: int):
    """k=2 (word_idx, mask) pairs from a (materialized) 60-bit hash column."""
    out = []
    for sub in (h % _BLOOM_SPLIT, F.shiftright(h, 30)):
        bit = sub % BLOOM_BITS
        wi = ((sub - bit) / BLOOM_BITS).cast("bigint") % n_words
        # F.shiftleft's python wrapper only takes a literal shift; the SQL
        # function itself accepts a column second argument
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), bit.cast("int")
        )
        out.append((wi, mask))
    return out


def bloom_filter_words(
    member_shingles: DataFrame,
    n_words: int = BLOOM_WORDS,
    hash_fn: str = "portable",
) -> DataFrame:
    """(wi, word) rows of a Bloom filter over the member shingle set: each
    member sets k=2 bits via bit_or aggregation. Map-side combinable; the
    result relation is at most `n_words` rows regardless of member count."""
    hh = member_shingles.select(
        _bloom_hash(F.col("shingle"), hash_fn).alias("__h")
    )
    probes = _bloom_probes_from(F.col("__h"), n_words)
    rows = hh.select(
        F.explode(
            F.array(*[F.struct(wi.alias("wi"), m.alias("mask")) for wi, m in probes])
        ).alias("p")
    )
    return rows.groupBy(F.col("p.wi").alias("wi")).agg(
        F.bit_or("p.mask").alias("word")
    )


def decontaminate_bloom(
    train_shingles: DataFrame,
    eval_shingles: DataFrame,
    id_col: str = "doc_id",
    n_words: int = BLOOM_WORDS,
    hash_fn: str = "portable",
) -> DataFrame:
    """contaminated_from_shingles semantics through a Bloom pre-filter:
    (1) build a ≤n_words-row Bloom filter over the DISTINCT eval shingles,
    (2) collect it to ONE 64 KB bigint array and probe every train shingle
    with a pure array-literal projection — the probe stage has NO join and
    no shuffle of the train stream at all, (3) exact-verify the survivors
    against the real eval shingle set, (4) the same one-shuffle
    groupBy/countDistinct as the exact path.

    Bloom filters have no false negatives and step (3) removes the false
    positives, so the output is row-for-row IDENTICAL to the exact
    decontamination — the registered query shares _DECONTAM_ORACLE verbatim.

    r10 PROBE-AS-BROADCAST-ARRAY (the r9 form probed via two broadcast hash
    JOINS against the 8192-row word relation; the 64× re-probe showed the
    joins, not md5, dominating the remaining gap — a Bloom filter IS a
    broadcast bitset, not a join relation): the filter collects to a fixed
    n_words-element array (64 KB — bounded by CONSTRUCTION at any corpus
    size, the one driver collect this operator is allowed) shipped as a
    1-row broadcast relation appended by an ON-true cross join (the repo's
    BNLJ scalar-broadcast pattern); each probe is element_at + bitwiseAND
    inside whole-stage codegen. Measured at 64× (probe stage, min-of-2):
    broadcast-row 9.9 s vs join form 14.9 s vs a 27 s trap worth recording —
    F.lit(list) expands to CreateArray with n_words CHILD EXPRESSIONS, which
    blows up the generated code instead of folding to one constant; never
    embed a large array as a literal.

    Scale rationale: the exact path broadcasts the full eval shingle STRINGS
    (~50-100 B/gram). The filter is ~1 byte per member at a 2% FP rate — at a
    10⁸-gram eval corpus that is ~100 MB of strings vs 64 KB of filter words
    (n_words then scales with the eval corpus, still KB-MB), and only ~2% of
    non-contaminated train shingles (plus all true matches) reach the verify
    join, whose probe side shrinks from the whole corpus stream to
    near-contaminated rows only. The verify join itself is left unhinted:
    AQE picks broadcast while the eval set fits and a shuffle join beyond —
    by then its train side is the reduced survivor stream.

    CURRENT bound, re-probed r15 (bench/BLOOMFLOOR_x256_r15.json, replacing
    the r9-era explanation): at 256× the survivor fraction is 0.9876 — the
    derived corpus contaminates ~everything, the prefilter prunes 1.2%, so
    this plan is structurally exact + probe cost THERE (exact 12.1 s, md5
    bloom 30.1 s = 2.5× vs oracle, xxhash64 production form 19.1 s = 1.6×;
    the md5 recipe alone costs ~5.5 s of the stream and exists only for
    oracle parity). On the realistic fixed-eval shape the xxhash64 bloom is
    1.7× FASTER than exact (BLOOM_VS_EXACT_x256_r10)."""
    ev_sh = eval_shingles.select("shingle").distinct()
    filt = bloom_filter_words(ev_sh, n_words, hash_fn)
    # ≤ n_words rows by construction (64 KB at the default) — bounded at ANY
    # corpus scale, unlike every other driver collect in the repo which needs
    # a row-count gate
    words = {r["wi"]: r["word"] for r in filt.collect()}
    arr = [words.get(i, 0) for i in range(n_words)]
    words_row = train_shingles.sparkSession.createDataFrame(
        [(arr,)], "words array<bigint>"
    )

    probed = train_shingles.withColumn(
        "__h", _bloom_hash(F.col("shingle"), hash_fn)
    ).crossJoin(F.broadcast(words_row))
    hits = [
        F.element_at(F.col("words"), (wi + 1).cast("int")).bitwiseAND(mask)
        != 0
        for wi, mask in _bloom_probes_from(F.col("__h"), n_words)
    ]
    survivors = probed.where(hits[0] & hits[1]).select(id_col, "shingle")
    return (
        survivors.join(ev_sh, "shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


def _decontam_bloom_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash_fn="xxhash64" (r15 optimization round): the registered row now runs
    # the PRODUCTION hash — one JVM xxhash64 per shingle instead of
    # md5+substr+conv (guide §4.1: prefer codegen built-ins; the md5 recipe
    # alone cost ~5.5 s of the 256× stream, bench/BLOOMFLOOR_x256_r15.json:
    # full query 30.1 s md5 vs 19.1 s xxhash64). Output is hash-identical
    # under either filter hash BY CONSTRUCTION — Bloom filters have no false
    # negatives and the exact verify join removes every false positive — so
    # the row keeps sharing _DECONTAM_ORACLE verbatim
    # (test_decontaminate_bloom_equals_exact pins bloom == exact under BOTH
    # hash forms). The md5-portable form stays available for an SQL-twin
    # filter replication.
    sh = corpus_shingles(spark, sf_dir)
    return decontaminate_bloom(
        sh.where(F.col("doc_id") % EVAL_MOD != 0),
        sh.where(F.col("doc_id") % EVAL_MOD == 0),
        hash_fn="xxhash64",
    )


# --- sequence packing --------------------------------------------------------



def _exclusive_offset(part_col: str, id_col: str):
    """The packing running sum: exclusive prefix of `n_tokens` per shard in
    id order — THE offset definition shared by pack_sequences,
    pack_sequences_bpe, and pack_manifest_spans (one copy, one semantics;
    the oracles replicate it as the identical SQL window)."""
    w = Window.partitionBy(part_col).orderBy(id_col)
    return F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Assign each doc to a fixed-capacity token pack, concat-then-chunk,
    per `part_col` shard in `id_col` order.

    Output: (doc_id, source, n_tokens, pack_id, pack_offset) where pack_offset
    is the doc's first-token position within its shard's concatenated stream
    modulo nothing (absolute offset), pack_id = floor(offset / capacity).

    Scale shape: ONE window (partition by shard, order by id) computing an
    exclusive running sum — each shard packs independently and in parallel,
    no global ordering. Token counts are whitespace tokens of the normalized
    text (the same tokenizer the dedup family uses)."""
    n_tok = F.size(tokens(F.col(text_col)))
    base = docs.select(id_col, part_col, n_tok.alias("n_tokens"))
    off = _exclusive_offset(part_col, id_col)
    return base.select(
        id_col,
        part_col,
        "n_tokens",
        off.alias("pack_offset"),
        F.floor(off / F.lit(capacity)).cast("bigint").alias("pack_id"),
    )


def _pack_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_sequences(load(spark, sf_dir, "documents"))


_PACK_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, len({tokens_sql("text")}) AS n_tokens FROM documents
)
SELECT doc_id, source, n_tokens,
       coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_offset,
       (coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_CAPACITY}
       )::BIGINT AS pack_id
FROM t
"""


# --- tokenizer-aware (BPE) packing -------------------------------------------
# The packing tokenizer (fixed 30-merge table) and its oracle-side lexicon
# live in operators.bpe (packing_merges / packing_lexicon) — moved there in
# round 5 so pipeline→bpe is the only import direction (ADVICE r4 flagged the
# old mutual module-init cycle), and the lexicon is DERIVED from the merge
# table by the real encoder instead of being a second golden literal.


def pack_sequences_bpe(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    capacity: int = PACK_CAPACITY,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """pack_sequences with REAL tokenizer costs: n_tokens is the BPE token
    count under the learned merge table (bpe.bpe_token_counts' Arrow kernel),
    so pack budgets are true token budgets, not whitespace estimates —
    VERDICT r3 item 8. Same one-window-per-shard plan as pack_sequences; the
    only added work is the per-doc encode inside the scan-side kernel."""
    from duckdb_ml_spark.operators.bpe import bpe_token_counts

    counts = bpe_token_counts(
        docs, merges, text_col=text_col, id_col=id_col,
        carry=(part_col,), carry_schema=f"{part_col} string",
    )
    base = counts.select(
        id_col, part_col, F.col("n_bpe_tokens").cast("bigint").alias("n_tokens")
    )
    off = _exclusive_offset(part_col, id_col)
    return base.select(
        id_col,
        part_col,
        "n_tokens",
        off.alias("pack_offset"),
        F.floor(off / F.lit(capacity)).cast("bigint").alias("pack_id"),
    )


def _pack_bpe_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.operators.bpe import packing_merges

    docs = load(spark, sf_dir, "documents")
    return pack_sequences_bpe(docs, packing_merges())


def _pack_bpe_oracle() -> str:
    # shared lexicon-join fragment + derived lexicon live in bpe.py (one copy
    # for both budget-BPE oracles; one-directional import, no init cycle)
    from duckdb_ml_spark.operators.bpe import lexicon_count_ctes, packing_lexicon

    return f"""
WITH {lexicon_count_ctes(packing_lexicon())},
cnt AS (SELECT t.doc_id, t.source, coalesce(c.s, 0)::BIGINT AS n_tokens
        FROM toks t LEFT JOIN c ON t.doc_id = c.doc_id)
SELECT doc_id, source, n_tokens,
       coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_offset,
       (coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_CAPACITY}
       )::BIGINT AS pack_id
FROM cnt
"""


def pack_manifest(
    packed: DataFrame, capacity: int = PACK_CAPACITY, id_col: str = "doc_id"
) -> DataFrame:
    """Explode the packing into the pack MANIFEST: one row per (doc, pack)
    segment, with the token span each pack takes from the doc. A doc whose
    tokens straddle pack boundaries contributes a row per touched pack —
    this is the table a data loader actually reads to assemble fixed-length
    training blocks (and the inverse map for attribution).

    All integer arithmetic on the already-computed offsets: a doc spanning
    [o, o+n) touches packs floor(o/C)..floor((o+n-1)/C); its token count in
    pack p is min((p+1)·C, o+n) − max(p·C, o)."""
    o, n = F.col("pack_offset"), F.col("n_tokens")
    first = F.floor(o / capacity).cast("bigint")
    last = F.floor((o + n - 1) / capacity).cast("bigint")
    out = packed.select(
        id_col, "source", "n_tokens", "pack_offset", F.explode(F.sequence(first, last)).alias("pack_id")
    )
    p = F.col("pack_id")
    seg = F.least((p + 1) * capacity, o + n) - F.greatest(p * capacity, o)
    return out.select(
        id_col, "source", "pack_id", seg.cast("bigint").alias("tokens_in_pack")
    )


def _pack_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_manifest(pack_sequences(load(spark, sf_dir, "documents")))


_PACK_MANIFEST_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, len({tokens_sql("text")}) AS n_tokens FROM documents
),
p AS (
    SELECT doc_id, source, n_tokens,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
    FROM t
)
SELECT doc_id, source, pack_id,
       (least((pack_id + 1) * {PACK_CAPACITY}, o + n_tokens)
        - greatest(pack_id * {PACK_CAPACITY}, o))::BIGINT AS tokens_in_pack
FROM p, LATERAL unnest(generate_series((o // {PACK_CAPACITY})::BIGINT,
                                       ((o + n_tokens - 1) // {PACK_CAPACITY})::BIGINT)) AS u(pack_id)
"""


# --- provenance manifest (byte spans) ----------------------------------------


def pack_manifest_spans(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """Pack manifest with DOCUMENT-SPAN PROVENANCE: per (doc, pack) segment,
    the doc-relative token span AND the byte span within the doc's normalized
    text (NOTES r4 surface candidate — a loader needs byte offsets to slice
    the source document without re-tokenizing; an attribution query needs the
    inverse map from a training block back into the document).

    Offsets are against the normalized text (textnorm contract: lowercase,
    alnum-collapsed, single-space-joined — the exact string
    `concat_ws(' ', tokens)`), so byte_start/byte_end are well-defined and
    engine-checkable: token i starts at len(join(tokens[:i])) + 1 separator.
    The corpus here is ASCII so bytes == chars on both engines.

    Plan: the same one-window-per-shard running sum as pack_sequences, then a
    per-doc explode of touched pack_ids; the byte arithmetic is
    slice + concat_ws + length — all codegen builtins, no HOF lambdas, no
    second pass over the text."""
    ws = tokens(F.col(text_col))
    base = docs.select(id_col, part_col, ws.alias("__w")).select(
        id_col, part_col, "__w", F.size("__w").cast("bigint").alias("n_tokens")
    )
    packed = base.select(
        id_col, part_col, "__w", "n_tokens",
        _exclusive_offset(part_col, id_col).alias("o"),
    )
    o, n = F.col("o"), F.col("n_tokens")
    first = F.floor(o / capacity).cast("bigint")
    last = F.floor((o + n - 1) / capacity).cast("bigint")
    # sequence(a, b) DESCENDS when a > b (n_tokens = 0 at a capacity
    # boundary → last < first) while DuckDB's generate_series is empty —
    # guard with an empty array exactly like textnorm.exploded_shingles
    # (ADVICE r4; unreachable today since tokens('') yields [''], but a
    # tokenizer change must not emit phantom negative-span rows).
    seg = packed.select(
        id_col, part_col, "__w", "n_tokens", "o",
        F.explode(
            F.when(n > 0, F.sequence(first, last)).otherwise(
                F.array().cast("array<bigint>")
            )
        ).alias("pack_id"),
    )
    p = F.col("pack_id")
    ts = F.greatest(p * capacity - o, F.lit(0)).cast("bigint")
    te = F.least((p + 1) * capacity - o, n).cast("bigint")
    # byte offset of token i in concat_ws(' ', w): len of the first i tokens
    # joined, +1 separator when i > 0; end offset is inclusive-join length
    pre = F.length(F.concat_ws(" ", F.slice("__w", 1, ts.cast("int"))))
    byte_start = F.when(ts == 0, F.lit(0)).otherwise(pre + 1).cast("bigint")
    byte_end = F.length(F.concat_ws(" ", F.slice("__w", 1, te.cast("int")))).cast("bigint")
    return seg.select(
        id_col,
        part_col,
        "pack_id",
        ts.alias("tok_start"),
        (te - ts).alias("tokens_in_pack"),
        byte_start.alias("byte_start"),
        byte_end.alias("byte_end"),
    )


def _pack_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_manifest_spans(load(spark, sf_dir, "documents"))


_PACK_SPANS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, {tokens_sql("text")} AS ws FROM documents
),
p AS (
    SELECT doc_id, source, ws, len(ws) AS n,
           coalesce(sum(len(ws)) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
    FROM t
),
seg AS (
    SELECT doc_id, source, ws, n, o, pack_id,
           greatest(pack_id * {PACK_CAPACITY} - o, 0) AS ts,
           least((pack_id + 1) * {PACK_CAPACITY} - o, n) AS te
    FROM p, LATERAL unnest(generate_series((o // {PACK_CAPACITY})::BIGINT,
                                           ((o + n - 1) // {PACK_CAPACITY})::BIGINT)) AS u(pack_id)
)
SELECT doc_id, source, pack_id,
       ts::BIGINT AS tok_start,
       (te - ts)::BIGINT AS tokens_in_pack,
       (CASE WHEN ts = 0 THEN 0
             ELSE length(array_to_string(ws[1:ts::INT], ' ')) + 1 END)::BIGINT AS byte_start,
       length(array_to_string(ws[1:te::INT], ' '))::BIGINT AS byte_end
FROM seg
"""


# --- greedy no-split packing -------------------------------------------------


def pack_greedy_nosplit(
    docs: DataFrame,
    capacity: int = PACK_CAPACITY,
    text_col: str = "text",
    id_col: str = "doc_id",
    part_col: str = "source",
) -> DataFrame:
    """First-fit-in-order packing that NEVER SPLITS a document across packs —
    the padded-batch discipline (each pack is padded to capacity; a doc that
    would overflow starts a new pack; an oversize doc gets its own pack).
    The complement of pack_sequences' concat-then-chunk.

    Semantics (per shard, doc_id order): fill += n; when fill + n > capacity
    the doc opens pack p+1 with fill = n. This running state has no
    prefix-sum closed form (each boundary depends on the previous boundary),
    so it is genuinely sequential WITHIN a shard — and embarrassingly
    parallel ACROSS shards, which is the axis that matters at 100 TB (shards
    are the unit of packing in practice, same as pack_sequences). Implemented
    as one applyInPandas kernel per source shard — few LARGE groups, the
    sanctioned shape (NOTES: per-tiny-group applyInPandas is the
    anti-pattern); the kernel is a single O(n_docs) pass.

    The oracle is a DuckDB recursive CTE stepping rn → rn+1 per shard — the
    same recursion-depth-bounded pattern as the dedup_clusters oracle."""
    import pandas as pd

    n_tok = F.size(tokens(F.col(text_col)))
    base = docs.select(id_col, part_col, n_tok.cast("bigint").alias("n_tokens"))

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        pack_ids = []
        p, fill = 0, 0
        first = True
        for n in pdf["n_tokens"]:
            if first:
                p, fill, first = 0, int(n), False
            elif fill + int(n) > capacity:
                p, fill = p + 1, int(n)
            else:
                fill += int(n)
            pack_ids.append(p)
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        return pdf[[id_col, part_col, "n_tokens", "pack_id"]]

    return base.groupBy(part_col).applyInPandas(
        _pack, f"{id_col} bigint, {part_col} string, n_tokens bigint, pack_id bigint"
    )


def _pack_nosplit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_greedy_nosplit(load(spark, sf_dir, "documents"))


_PACK_NOSPLIT_ORACLE = f"""
WITH RECURSIVE t AS (
    SELECT doc_id, source, len({tokens_sql("text")})::BIGINT AS n_tokens,
           row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM documents
),
r AS (
    SELECT doc_id, source, n_tokens, rn, 0::BIGINT AS pack_id, n_tokens AS fill
    FROM t WHERE rn = 1
    UNION ALL
    SELECT t.doc_id, t.source, t.n_tokens, t.rn,
           CASE WHEN r.fill + t.n_tokens > {PACK_CAPACITY}
                THEN r.pack_id + 1 ELSE r.pack_id END,
           CASE WHEN r.fill + t.n_tokens > {PACK_CAPACITY}
                THEN t.n_tokens ELSE r.fill + t.n_tokens END
    FROM r JOIN t ON t.source = r.source AND t.rn = r.rn + 1
)
SELECT doc_id, source, n_tokens, pack_id FROM r
"""


# --- pack utilization rollup -------------------------------------------------


def fill_ratio_sql(n_tokens: str, n_packs: str, div: str, capacity: int = PACK_CAPACITY) -> str:
    """fill_ratio = n_tokens / (n_packs·capacity), rounded half-up to 6
    decimals in exact integer arithmetic (`div`: Spark's `DIV`, DuckDB's
    `//`), then divided by 1e6 — one correctly rounded IEEE division, so both
    engines produce the same double. Rounding the double quotient instead
    diverged on exact decimal ties: 1282/(5·256) = 1.0015625 rounded to
    1.001563 in Spark and to 1.001562 in DuckDB."""
    d = f"(CAST({n_packs} AS BIGINT) * {capacity})"
    return f"CAST((2000000 * CAST({n_tokens} AS BIGINT) + {d}) {div} (2 * {d}) AS DOUBLE) / 1e6"


def pack_stats(packed: DataFrame, capacity: int = PACK_CAPACITY) -> DataFrame:
    """Per-shard pack utilization: packs, docs, tokens, mean fill. The rollup
    a pipeline operator reports to size capacity (too small → fragmentation,
    too large → padding waste)."""
    return (
        packed.groupBy("source")
        .agg(
            (F.max("pack_id") + 1).alias("n_packs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "source",
            "n_packs",
            "n_docs",
            "n_tokens",
            F.expr(fill_ratio_sql("n_tokens", "n_packs", "DIV", capacity)).alias("fill_ratio"),
        )
    )


def _pack_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pack_stats(pack_sequences(load(spark, sf_dir, "documents")))


_PACK_STATS_ORACLE = f"""
WITH t AS (
    SELECT doc_id, source, len({tokens_sql("text")}) AS n_tokens FROM documents
),
p AS (
    SELECT source, n_tokens,
           (coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_CAPACITY}
           )::BIGINT AS pack_id
    FROM t
)
SELECT source,
       (max(pack_id) + 1)::BIGINT AS n_packs,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens,
       {fill_ratio_sql("sum(n_tokens)", "max(pack_id) + 1", "//")} AS fill_ratio
FROM p GROUP BY source
"""


# --- cross-corpus containment ------------------------------------------------


def containment_vs_reference(
    probe: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """Fuzzy containment of each PROBE doc in the REFERENCE corpus:
    |distinct n-grams of doc ∩ n-grams anywhere in reference| / |distinct
    n-grams of doc|. The standard "is this new crawl document already
    (mostly) inside my existing corpus" score — containment, unlike Jaccard,
    is asymmetric and robust to the reference being huge.

    Scale shape: reference n-grams dedup to a compact set; the probe shingle
    stream broadcast-joins it map-side (or shuffle-joins at true scale), and
    one groupBy per probe doc emits shared counts. The denominator rides the
    same aggregation (count distinct shingles per doc) — corpus text shuffles
    once as compact (doc, shingle) pairs."""
    return containment_from_shingles(
        exploded_shingles(probe, text_col=text_col, id_col=id_col, n=n),
        exploded_shingles(reference, text_col=text_col, id_col=id_col, n=n),
        id_col=id_col,
    )


def containment_from_shingles(
    probe_shingles: DataFrame,
    reference_shingles: DataFrame,
    id_col: str = "doc_id",
    broadcast_ref: bool = True,
) -> DataFrame:
    """Containment scores from precomputed (doc, shingle) relations (the
    shingle-sharing core of containment_vs_reference). broadcast_ref=False
    when the reference gram set scales with the corpus
    (DECONTAM_BROADCAST_DOC_GATE — the 1024×-probe OOM class)."""
    ref = reference_shingles.select("shingle").distinct().withColumn(
        "__hit", F.lit(1)
    )
    if broadcast_ref:
        ref = F.broadcast(ref)
    # dedup (doc, shingle) FIRST — one exchange clustered by doc_id, which the
    # downstream groupBy(doc_id) reuses — then the rollup uses plain count/sum
    # aggregates; two count_distinct's in one agg would trigger an Expand
    # (input doubled)
    pr_sh = probe_shingles.repartition(id_col).dropDuplicates([id_col, "shingle"])
    scored = (
        pr_sh.join(ref, "shingle", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("n_shared"),
        )
    )
    return scored.select(
        id_col,
        "n_shingles",
        "n_shared",
        (F.col("n_shared").cast("double") / F.col("n_shingles")).alias("containment"),
    )


def _containment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = corpus_shingles(spark, sf_dir)
    return containment_from_shingles(
        sh.where(F.col("doc_id") % 2 == 1),
        sh.where(F.col("doc_id") % 2 == 0),
        # the mod-2 reference is HALF the corpus — gate like decontaminate
        broadcast_ref=_broadcast_eval_ok(spark, sf_dir),
    )


_CONTAINMENT_ORACLE = f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS w FROM documents),
sh AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
ref AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
pr AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE doc_id % 2 = 1)
SELECT p.doc_id,
       count(*) AS n_shingles,
       count(r.shingle) AS n_shared,
       count(r.shingle)::DOUBLE / count(*) AS containment
FROM pr p LEFT JOIN ref r ON p.shingle = r.shingle
GROUP BY p.doc_id
"""


# --- end-to-end curation pipeline --------------------------------------------

CURATE_MIN_QUALITY = 0.5


def curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation chain as ONE composed lazy plan — the system-level
    flagship of the LLM-data story: quality filter → exact-dedup keep-list →
    benchmark decontamination → sequence packing, ending in the per-source
    pack/doc/token rollup a pipeline run reports.

    Every stage is the already-tested operator (text.quality_score,
    dedup.dedup_exact's keep-key shape, contaminated_docs, pack_sequences);
    the value here is that Catalyst fuses the composition: one documents scan
    feeds quality + dedup keys, the eval-shingle set broadcasts, and the
    packing window runs per source shard. Scale shape = the stages' own
    (each documented in place); nothing new shuffles."""
    from duckdb_ml_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")
    q = quality_score(spark, sf_dir).where(F.col("quality_score") >= CURATE_MIN_QUALITY)
    kept_quality = docs.join(q.select("doc_id"), "doc_id", "left_semi")
    # exact dedup among the quality-kept: keep the lowest doc_id per
    # normalized text (dedup_exact's window-free groupBy+semi-join shape)
    from duckdb_ml_spark.operators.dedup import dedup_exact

    deduped = dedup_exact(kept_quality)
    # decontaminate vs the eval pseudo-benchmark (doc_id % EVAL_MOD == 0):
    # eval members themselves leave the training set, and any doc sharing a
    # 3-gram with the eval set is dropped. Contamination is computed over ALL
    # non-eval docs from the SHARED materialized shingle relation (exactly the
    # oracle's definition); the anti-join below intersects it with the
    # quality+dedup survivors, so the result is identical to scoring only the
    # survivors — without re-shingling their texts.
    train = deduped.where(F.col("doc_id") % EVAL_MOD != 0)
    sh = corpus_shingles(spark, sf_dir)
    ev_sh = sh.where(F.col("doc_id") % EVAL_MOD == 0).select("shingle").distinct()
    if _broadcast_eval_ok(spark, sf_dir):  # same gate as decontaminate_train
        ev_sh = F.broadcast(ev_sh)
    # only the contaminated id SET matters here (no n_shared threshold), so a
    # distinct projection replaces decontaminate_train's countDistinct agg —
    # same ids, one cheap int64 distinct instead of a per-doc count
    contaminated_ids = (
        sh.where(F.col("doc_id") % EVAL_MOD != 0)
        .join(ev_sh, "shingle")
        .select("doc_id")
        .distinct()
    )
    clean = train.join(contaminated_ids, "doc_id", "left_anti")
    # pack what survived and report per-source utilization
    return pack_stats(pack_sequences(clean))


_CURATE_SPARK_SQL = f"""
WITH base AS (
    SELECT doc_id, source, text,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ')) AS n
    FROM __curate_docs
),
q AS (
    SELECT doc_id FROM base
    WHERE 0.4 * (CAST(length(regexp_replace(text, '[^a-zA-Z]', '')) AS DOUBLE)
                 / length(text))
        + 0.3 * (CAST(size(array_distinct(split(n, ' '))) AS DOUBLE)
                 / size(split(n, ' ')))
        + 0.3 * (CAST(regexp_count(n, '(?:^| )(?:the|a|and|of|to|in|is|it|for|on)(?= |$)') AS DOUBLE)
                 / size(split(n, ' ')))
        >= {CURATE_MIN_QUALITY}
),
dk AS (
    SELECT min(b.doc_id) AS doc_id
    FROM base b JOIN q USING (doc_id)
    GROUP BY md5(b.n)
),
ev AS (SELECT DISTINCT shingle FROM __curate_shingles WHERE doc_id % {EVAL_MOD} = 0),
contaminated AS (
    SELECT DISTINCT s.doc_id
    FROM __curate_shingles s JOIN ev USING (shingle)
    WHERE s.doc_id % {EVAL_MOD} != 0
),
clean AS (
    SELECT b.doc_id, b.source, size(split(b.n, ' ')) AS n_tokens
    FROM base b JOIN dk USING (doc_id)
    WHERE b.doc_id % {EVAL_MOD} != 0
      AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = b.doc_id)
),
p AS (
    SELECT source, n_tokens,
           CAST(floor(coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {PACK_CAPACITY}) AS BIGINT) AS pack_id
    FROM clean
)
SELECT source,
       max(pack_id) + 1 AS n_packs,
       count(1) AS n_docs,
       sum(n_tokens) AS n_tokens,
       {fill_ratio_sql("sum(n_tokens)", "max(pack_id) + 1", "DIV")} AS fill_ratio
FROM p GROUP BY source
"""


def _curate_sql_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """curate_pipeline as ONE spark.sql statement over temp views — the same
    logical plan Catalyst sees from the compositional form (equivalence
    pytest-proven), built in ~3 py4j round trips instead of ~50. Measured on
    the rig: the Column-API composition costs ~0.4-0.5 s of pure driver-side
    plan construction per run — half the query's wall time; SQL-text parsing
    is one JNI hop. The materialized shingle relation enters as a temp view."""
    load(spark, sf_dir, "documents").createOrReplaceTempView("__curate_docs")
    corpus_shingles(spark, sf_dir).createOrReplaceTempView("__curate_shingles")
    return spark.sql(_CURATE_SPARK_SQL)


_CURATE_ORACLE = f"""
WITH toks AS (SELECT doc_id, {tokens_sql("text")} AS w FROM documents),
q AS (
    SELECT d.doc_id
    FROM documents d JOIN toks t USING (doc_id)
    WHERE 0.4 * (length(regexp_replace(d.text, '[^a-zA-Z]', '', 'g'))::DOUBLE
                 / length(d.text))
        + 0.3 * (len(list_distinct(t.w))::DOUBLE / len(t.w))
        + 0.3 * (len(list_filter(t.w, x -> x IN ('the','a','and','of','to','in','is','it','for','on')))::DOUBLE
                 / len(t.w))
        >= {CURATE_MIN_QUALITY}
),
dk AS (
    SELECT min(doc_id) AS doc_id
    FROM documents JOIN q USING (doc_id)
    GROUP BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
),
sh AS (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM toks
),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0),
contaminated AS (
    SELECT DISTINCT s.doc_id FROM sh s JOIN ev USING (shingle)
    WHERE s.doc_id % {EVAL_MOD} != 0
),
clean AS (
    SELECT d.doc_id, d.source, len(t.w) AS n_tokens
    FROM documents d JOIN dk USING (doc_id) JOIN toks t USING (doc_id)
    WHERE d.doc_id % {EVAL_MOD} != 0
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
),
p AS (
    SELECT source, n_tokens,
           (coalesce(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {PACK_CAPACITY}
           )::BIGINT AS pack_id
    FROM clean
)
SELECT source,
       (max(pack_id) + 1)::BIGINT AS n_packs,
       count(*)::BIGINT AS n_docs,
       sum(n_tokens)::BIGINT AS n_tokens,
       {fill_ratio_sql("sum(n_tokens)", "max(pack_id) + 1", "//")} AS fill_ratio
FROM p GROUP BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "pipeline_curate": QuerySpec(
        name="pipeline_curate",
        builder=_curate_sql_q,
        oracle=_CURATE_ORACLE,
        doc="End-to-end curation: quality filter → exact dedup → decontaminate → pack → rollup (one composed plan).",
        tags=("pipeline", "flagship", "dedup", "decontam", "packing"),
    ),
    "pipeline_containment": QuerySpec(
        name="pipeline_containment",
        builder=_containment_q,
        oracle=_CONTAINMENT_ORACLE,
        doc="Per-doc fuzzy containment vs a reference corpus (asymmetric n-gram overlap).",
        tags=("pipeline", "decontam", "dedup"),
    ),
    "decontaminate_train": QuerySpec(
        name="decontaminate_train",
        builder=_decontam_q,
        oracle=_DECONTAM_ORACLE,
        doc="Train docs sharing n-grams with the eval set (broadcast eval-shingle join).",
        tags=("pipeline", "decontam"),
    ),
    "decontaminate_bloom": QuerySpec(
        name="decontaminate_bloom",
        builder=_decontam_bloom_q,
        # identical output to the exact path by construction (no false
        # negatives + exact verify of survivors) → shares the exact oracle
        oracle=_DECONTAM_ORACLE,
        doc="Decontamination through a portable 2-hash Bloom pre-filter "
        "(BIGINT bit-words + bit_or agg, broadcast-join probes, exact verify "
        "of survivors) — ~1 B/gram filter instead of broadcasting eval-gram "
        "strings; output identical to decontaminate_train.",
        tags=("pipeline", "decontam", "sketch", "bloom"),
    ),
    "pack_sequences": QuerySpec(
        name="pack_sequences",
        builder=_pack_q,
        oracle=_PACK_ORACLE,
        doc="Concat-then-chunk sequence packing per source shard (one parallel window).",
        tags=("pipeline", "packing"),
    ),
    "pack_sequences_bpe": QuerySpec(
        name="pack_sequences_bpe",
        builder=_pack_bpe_q,
        oracle=_pack_bpe_oracle(),
        doc="Tokenizer-aware packing: BPE token budgets (30-merge table) via the "
        "Arrow encode kernel; oracle joins the golden sf0.01 word→len lexicon.",
        tags=("pipeline", "packing", "bpe"),
    ),
    "pack_manifest": QuerySpec(
        name="pack_manifest",
        builder=_pack_manifest_q,
        oracle=_PACK_MANIFEST_ORACLE,
        doc="Pack manifest: one row per (doc, pack) segment with the token span.",
        tags=("pipeline", "packing"),
    ),
    "pack_greedy_nosplit": QuerySpec(
        name="pack_greedy_nosplit",
        builder=_pack_nosplit_q,
        oracle=_PACK_NOSPLIT_ORACLE,
        doc="First-fit no-split packing (padded-batch discipline) — sequential "
        "per-shard Arrow kernel vs a recursive-CTE oracle.",
        tags=("pipeline", "packing"),
    ),
    "pack_manifest_spans": QuerySpec(
        name="pack_manifest_spans",
        builder=_pack_spans_q,
        oracle=_PACK_SPANS_ORACLE,
        doc="Pack manifest with byte-span provenance: per (doc, pack) segment, "
        "the doc-relative token span and byte offsets into the normalized text.",
        tags=("pipeline", "packing", "provenance"),
    ),
    "pack_stats": QuerySpec(
        name="pack_stats",
        builder=_pack_stats_q,
        oracle=_PACK_STATS_ORACLE,
        doc="Pack utilization rollup per shard (fill ratio vs capacity).",
        tags=("pipeline", "packing"),
    ),
}
