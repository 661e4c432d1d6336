"""Unit tests for pipeline operators (decontamination + sequence packing)."""

import os

import pytest
from pyspark.sql import functions as F

from duckdb_ml_spark.tables import load

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from duckdb_ml_spark.session import get_spark

    return get_spark("test_pipeline", shuffle_partitions=8)


@pytest.fixture(scope="module")
def sf_dir():
    return SF_DIR


def test_contaminated_docs_flags_shared_ngrams(spark):
    from duckdb_ml_spark.operators.pipeline import contaminated_docs

    rows = [
        (1, "alpha beta gamma delta epsilon"),  # shares 'alpha beta gamma' with eval
        (2, "one two three four five"),  # disjoint
        (3, "beta gamma delta zeta eta"),  # shares 'beta gamma delta'
    ]
    train = spark.createDataFrame(rows, "doc_id bigint, text string")
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta xx")], "doc_id bigint, text string"
    )
    got = {r.doc_id: r.n_shared for r in contaminated_docs(train, ev).collect()}
    # eval text's 3-grams: {alpha beta gamma, beta gamma delta, gamma delta xx}
    assert got == {1: 2, 3: 1}


def test_contaminated_docs_eval_side_broadcasts(spark, sf_dir):
    from duckdb_ml_spark.operators.pipeline import _decontam_q

    plan = _decontam_q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_pack_sequences_invariants(spark, sf_dir):
    from duckdb_ml_spark.operators.pipeline import PACK_CAPACITY, pack_sequences

    docs = load(spark, sf_dir, "documents")
    rows = pack_sequences(docs).collect()
    assert len(rows) == docs.count()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_offset == cum, (src, r)
            assert r.pack_id == cum // PACK_CAPACITY
            assert r.n_tokens > 0
            cum += r.n_tokens


def test_pack_stats_fill_bounded(spark, sf_dir):
    from duckdb_ml_spark.operators.pipeline import pack_sequences, pack_stats

    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(docs)
    max_doc = max(r.n_tokens for r in packed.collect())
    for r in pack_stats(packed).collect():
        # a doc is assigned to the pack holding its FIRST token, so a shard's
        # stream can spill past n_packs*capacity by at most one doc's tokens
        from duckdb_ml_spark.operators.pipeline import PACK_CAPACITY

        assert r.n_tokens <= r.n_packs * PACK_CAPACITY + max_doc
        assert 0 < r.fill_ratio
        assert r.n_packs >= 1


def test_pack_stats_fill_ratio_exact_tie(spark):
    """1282 tokens over 5 packs of 256 is 1.0015625, an exact tie at 6
    decimals: rounding the double quotient gave 1.001563 in Spark and
    1.001562 in DuckDB. Both engines now round the exact ratio half-up."""
    import duckdb

    from duckdb_ml_spark.operators.pipeline import fill_ratio_sql, pack_stats

    packed = spark.createDataFrame(
        [(i, "s", t, i) for i, t in enumerate((257, 256, 256, 256, 257))],
        "doc_id bigint, source string, n_tokens bigint, pack_id bigint",
    )
    (r,) = pack_stats(packed, capacity=256).collect()
    assert (r.n_packs, r.n_tokens) == (5, 1282)
    duck = duckdb.sql(f"SELECT {fill_ratio_sql('1282', '5', '//', 256)}").fetchone()[0]
    assert r.fill_ratio == duck == 1.001563


def test_pack_manifest_conservation(spark, sf_dir):
    """Every doc's tokens_in_pack rows must sum to its n_tokens, and each
    pack's take from a doc is within (0, capacity]."""
    from duckdb_ml_spark.operators.pipeline import (
        PACK_CAPACITY,
        pack_manifest,
        pack_sequences,
    )

    packed = pack_sequences(load(spark, sf_dir, "documents"))
    man = pack_manifest(packed).collect()
    per_doc: dict = {}
    for r in man:
        assert 0 < r.tokens_in_pack <= PACK_CAPACITY
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.tokens_in_pack
    want = {r.doc_id: r.n_tokens for r in packed.collect()}
    assert per_doc == want


def test_temperature_sample_rates_and_determinism(spark, sf_dir):
    """Rates in (0,1], dominant sources downsampled more than rare ones,
    kept fraction tracks rate, and the sample is re-run deterministic."""
    from duckdb_ml_spark.operators.sampling import temperature_sample
    from duckdb_ml_spark.tables import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    kept1 = temperature_sample(docs, "doc_id")
    kept2 = temperature_sample(docs.repartition(7), "doc_id")
    ids1 = {r.doc_id for r in kept1.select("doc_id").collect()}
    ids2 = {r.doc_id for r in kept2.select("doc_id").collect()}
    assert ids1 == ids2 and len(ids1) > 0  # partition-independent

    rates = {
        r.source: (r.rate, r.n_src)
        for r in kept1.select("source", "rate", "n_src").distinct().collect()
    }
    assert all(0.0 < rate <= 1.0 for rate, _ in rates.values())
    # temperature flattening: smaller sources get a HIGHER keep rate
    by_size = sorted(rates.values(), key=lambda t: t[1])
    assert by_size[0][0] >= by_size[-1][0]


def test_containment_bounds_and_self_containment(spark, sf_dir):
    """containment in [0,1]; a probe doc that IS in the reference scores 1."""
    from duckdb_ml_spark.operators.pipeline import containment_vs_reference
    from duckdb_ml_spark.tables import load
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    probe = docs.where(F.col("doc_id") % 2 == 1)
    ref = docs.where(F.col("doc_id") % 2 == 0)
    rows = containment_vs_reference(probe, ref).collect()
    assert rows and all(0.0 <= r.containment <= 1.0 for r in rows)
    assert all(r.n_shared <= r.n_shingles for r in rows)

    # self-containment: probe ⊂ reference → every doc scores exactly 1
    self_rows = containment_vs_reference(probe, docs).collect()
    assert self_rows and all(r.containment == 1.0 for r in self_rows)


def test_curate_pipeline_composition_invariants(spark, sf_dir):
    """End-to-end curation: every packed doc survived quality + dedup +
    decontamination; rollup is consistent (n_docs ≤ corpus, fill ≤ 1+ε)."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.pipeline import EVAL_MOD, curate_pipeline
    from duckdb_ml_spark.tables import load

    stats = curate_pipeline(spark, sf_dir).collect()
    assert stats
    docs = load(spark, sf_dir, "documents")
    n_docs = docs.count()
    n_eval = docs.where(F.col("doc_id") % EVAL_MOD == 0).count()
    total_kept = sum(r.n_docs for r in stats)
    assert 0 < total_kept <= n_docs - n_eval
    for r in stats:
        assert r.n_packs >= 1 and 0 < r.fill_ratio <= 1.0


def test_pack_sequences_bpe_invariants(spark, sf_dir):
    """BPE packing keeps the pack arithmetic invariants, with n_tokens equal to
    the kernel's per-doc encode length sum (checked for a sample of docs)."""
    from duckdb_ml_spark.operators.bpe import encode_word, train_bpe_merges
    from duckdb_ml_spark.operators.pipeline import (
        PACK_CAPACITY,
        pack_sequences_bpe,
    )
    from duckdb_ml_spark.operators.textnorm import norm_text

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=30)
    ranks = {p: i for i, p in enumerate(merges)}
    rows = pack_sequences_bpe(docs, merges).collect()
    assert len(rows) == docs.count()
    by_src: dict = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        cum = 0
        for r in rs:
            assert r.pack_offset == cum, (src, r)
            assert r.pack_id == cum // PACK_CAPACITY
            cum += r.n_tokens
    # spot-check the token counts against a driver-side re-encode
    sample = docs.select("doc_id", norm_text(F.col("text")).alias("t")).limit(20).collect()
    want = {
        r.doc_id: sum(len(encode_word(w, ranks)) for w in r.t.split(" ") if w)
        for r in sample
    }
    got = {r.doc_id: r.n_tokens for r in rows if r.doc_id in want}
    assert got == want


def test_curate_sql_equals_composition(spark, sf_dir):
    """The one-statement SQL form of the curation pipeline must produce
    exactly the compositional form's rows (same quality floats, same dedup
    keys, same packing) — it is a py4j-cost optimization, not a semantic
    fork."""
    from duckdb_ml_spark.operators.pipeline import _curate_sql_q, curate_pipeline

    a = {tuple(r) for r in curate_pipeline(spark, sf_dir).collect()}
    b = {tuple(r) for r in _curate_sql_q(spark, sf_dir).collect()}
    assert a == b and a


def test_pack_manifest_spans_slice_back_to_tokens(spark, sf_dir):
    """byte_start/byte_end must slice the normalized text to exactly the
    segment's tokens — the provenance contract a loader relies on."""
    from duckdb_ml_spark.operators.pipeline import pack_manifest_spans
    from duckdb_ml_spark.operators.textnorm import norm_text

    docs = load(spark, sf_dir, "documents")
    norm = {r.doc_id: r.nt for r in docs.select("doc_id", norm_text(F.col("text")).alias("nt")).collect()}
    rows = pack_manifest_spans(docs).collect()
    assert len(rows) > 0
    seen_multi = False
    for r in rows:
        nt = norm[r.doc_id]
        seg = nt[r.byte_start:r.byte_end]
        toks = nt.split(" ")[r.tok_start:r.tok_start + r.tokens_in_pack]
        assert seg == " ".join(toks), (r.doc_id, r.pack_id)
        if r.tok_start > 0 or r.tokens_in_pack < len(nt.split(" ")):
            seen_multi = True
    # the corpus must actually exercise boundary-straddling docs
    assert seen_multi
    # per-doc segments tile the doc: token spans concatenate to the full text
    from collections import defaultdict
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    for d, rs in by_doc.items():
        rs.sort(key=lambda r: r.pack_id)
        total = sum(r.tokens_in_pack for r in rs)
        assert total == len(norm[d].split(" "))
        assert rs[0].tok_start == 0


def test_pack_greedy_nosplit_invariants(spark, sf_dir):
    """No-split contract: within a (source, pack) the token sum never exceeds
    capacity unless the pack is a single oversize doc; pack ids are dense and
    start at 0; packing is first-fit in doc_id order (adding the next doc to
    the previous pack would overflow)."""
    from collections import defaultdict

    from duckdb_ml_spark.operators.pipeline import PACK_CAPACITY, pack_greedy_nosplit

    rows = pack_greedy_nosplit(load(spark, sf_dir, "documents")).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: r.doc_id)
        fills = defaultdict(int)
        counts = defaultdict(int)
        for r in rs:
            fills[r.pack_id] += r.n_tokens
            counts[r.pack_id] += 1
        packs = sorted(fills)
        assert packs == list(range(len(packs)))  # dense from 0
        for p in packs:
            assert fills[p] <= PACK_CAPACITY or counts[p] == 1
        # first-fit: each pack transition was forced by overflow
        prev_pack, prev_fill = 0, 0
        for r in rs:
            if r.pack_id != prev_pack:
                assert prev_fill + r.n_tokens > PACK_CAPACITY
                prev_pack, prev_fill = r.pack_id, r.n_tokens
            else:
                prev_fill += r.n_tokens


def test_decontaminate_bloom_equals_exact(spark, sf_dir):
    """Bloom prefilter + exact verify must reproduce the exact decontamination
    row-for-row (no false negatives by Bloom construction; false positives
    removed by the verify join)."""
    from duckdb_ml_spark.operators.pipeline import (
        EVAL_MOD,
        contaminated_from_shingles,
        corpus_shingles,
        decontaminate_bloom,
    )

    sh = corpus_shingles(spark, sf_dir)
    train = sh.where(F.col("doc_id") % EVAL_MOD != 0)
    ev = sh.where(F.col("doc_id") % EVAL_MOD == 0)
    exact = {
        r.doc_id: r.n_shared for r in contaminated_from_shingles(train, ev).collect()
    }
    bloom = {r.doc_id: r.n_shared for r in decontaminate_bloom(train, ev).collect()}
    assert bloom == exact and len(bloom) > 0
    # r10 non-oracle fast path: one JVM xxhash64 instead of md5 — a different
    # filter, the IDENTICAL output (exact verify removes all false positives)
    fast = {
        r.doc_id: r.n_shared
        for r in decontaminate_bloom(train, ev, hash_fn="xxhash64").collect()
    }
    assert fast == exact


def test_bloom_probes_one_hash_split_matches_python(spark):
    """The r10 probe recipe must equal exact INTEGER floor division over the
    two 30-bit halves of ONE 60-bit md5 hash (ADVICE r9 medium: the old
    (h/63)::bigint double quotient exceeded 2^53 and diverged from floor for
    many hashes) — recomputed independently in Python."""
    import hashlib

    from duckdb_ml_spark.operators.pipeline import (
        BLOOM_BITS,
        _BLOOM_SALT,
        _bloom_probes,
    )

    n_words = 8192
    vals = [f"gram {i} y" for i in range(300)]
    df = spark.createDataFrame([(v,) for v in vals], "shingle string")
    probes = _bloom_probes(F.col("shingle"), n_words)
    got = {
        r["shingle"]: (r["wi0"], r["m0"], r["wi1"], r["m1"])
        for r in df.select(
            "shingle",
            probes[0][0].alias("wi0"),
            probes[0][1].alias("m0"),
            probes[1][0].alias("wi1"),
            probes[1][1].alias("m1"),
        ).collect()
    }
    for v in vals:
        h = int(
            hashlib.md5(f"{_BLOOM_SALT}:{v}".encode()).hexdigest()[:15], 16
        )
        exp = []
        for sub in (h % (1 << 30), h >> 30):
            exp += [(sub // BLOOM_BITS) % n_words, 1 << (sub % BLOOM_BITS)]
        assert got[v] == tuple(exp), v


def test_bloom_filter_is_bounded_and_complete(spark):
    """The filter relation never exceeds n_words rows, and every member's two
    probe bits are set (no false negatives)."""
    from duckdb_ml_spark.operators.pipeline import _bloom_probes, bloom_filter_words

    members = spark.createDataFrame(
        [(f"gram {i} x",) for i in range(500)], "shingle string"
    )
    n_words = 64  # deliberately tiny -> heavy collisions, still no false negatives
    filt = bloom_filter_words(members, n_words=n_words)
    assert filt.count() <= n_words

    probed = members
    for i, (wi, mask) in enumerate(_bloom_probes(F.col("shingle"), n_words)):
        probed = probed.withColumn(f"__wi{i}", wi).withColumn(f"__mask{i}", mask)
        f_i = filt.withColumnRenamed("wi", f"__wi{i}").withColumnRenamed(
            "word", f"__word{i}"
        )
        probed = probed.join(F.broadcast(f_i), f"__wi{i}", "left")
    misses = probed.where(
        (F.coalesce("__word0", F.lit(0)).bitwiseAND(F.col("__mask0")) == 0)
        | (F.coalesce("__word1", F.lit(0)).bitwiseAND(F.col("__mask1")) == 0)
    ).count()
    assert misses == 0


def test_decontaminate_bloom_probe_side_has_no_pre_verify_shuffle(spark, sf_dir):
    """r10: the probe stage is a pure array-literal projection — NO join at
    all before the exact verify (the r9 form paid two broadcast hash joins
    over the full train stream). The only join left is the verify itself."""
    from duckdb_ml_spark.operators.pipeline import _decontam_bloom_q

    plan = (
        _decontam_bloom_q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    )
    # exactly the verify join remains (broadcast at test scale via AQE)
    assert plan.count("BroadcastHashJoin") == 1
    assert "element_at" in plan


def test_decontam_nonbroadcast_branch_equals_broadcast(spark, sf_dir):
    """Above DECONTAM_BROADCAST_DOC_GATE the eval side must not be pinned as
    a broadcast (the r9 1024x OOM class): the fallback join must produce the
    identical result and its plan must not force a BroadcastExchange on the
    eval-gram relation."""
    from duckdb_ml_spark.operators.pipeline import (
        EVAL_MOD,
        contaminated_from_shingles,
        corpus_shingles,
    )

    sh = corpus_shingles(spark, sf_dir)
    train = sh.where(F.col("doc_id") % EVAL_MOD != 0)
    ev = sh.where(F.col("doc_id") % EVAL_MOD == 0)
    on = contaminated_from_shingles(train, ev, broadcast_eval=True)
    off = contaminated_from_shingles(train, ev, broadcast_eval=False)
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))
