"""Unit tests for the LLM-pipeline operator modules (dedup / similarity /
text / multimodal) — structural and value checks beyond the driver's oracle
gate, at sf0.001 for speed.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from duckdb_ml_spark.tables import load


# --- dedup -------------------------------------------------------------------


def test_dedup_exact_api_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "other doc"), (4, "HELLO  world?")],
        "doc_id bigint, text string",
    )
    from duckdb_ml_spark.operators.dedup import dedup_exact

    kept = sorted(r.doc_id for r in dedup_exact(df).collect())
    # 1, 2, 4 normalize identically -> keep 1; 3 unique
    assert kept == [1, 3]


def test_minhash_signatures_shape_and_determinism(spark, sf_dir):
    from duckdb_ml_spark.operators.dedup import MINHASH_K, minhash_signatures

    docs = load(spark, sf_dir, "documents").limit(50)
    sig1 = minhash_signatures(docs).collect()
    sig2 = minhash_signatures(docs).collect()
    assert sorted(map(tuple, sig1)) == sorted(map(tuple, sig2))
    assert len(sig1[0]) == 1 + MINHASH_K


def test_minhash_xxhash64_variant_runs(spark, sf_dir):
    from duckdb_ml_spark.operators.dedup import minhash_signatures

    docs = load(spark, sf_dir, "documents").limit(20)
    sig = minhash_signatures(docs, hash_fn="xxhash64")
    assert sig.count() == 20
    assert dict(sig.dtypes)["mh00"] == "bigint"


def test_lsh_candidates_superset_of_high_jaccard(spark, sf_dir):
    """Every exact-Jaccard ≥ 0.5 pair must be caught by LSH banding (4 bands of
    4: a pair agreeing on ≥ one full band always collides). The ground-truth
    side is computed INDEPENDENTLY of LSH: candidates = all pairs sharing ≥1
    shingle (the round-1 corpus-wide verifier semantics), so this remains a
    real recall check now that ngram_jaccard_pairs itself is LSH-gated."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.dedup import (
        exact_jaccard_for_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )
    from duckdb_ml_spark.operators.textnorm import exploded_shingles

    docs = load(spark, sf_dir, "documents")
    lsh = {
        (r.doc_a, r.doc_b)
        for r in lsh_candidate_pairs(minhash_signatures(docs).persist()).collect()
    }
    sh = exploded_shingles(docs).distinct().persist()
    sharing = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    exact = {
        (r.doc_a, r.doc_b)
        for r in exact_jaccard_for_pairs(sharing, shingle_sets(docs), threshold=0.5).collect()
    }
    assert exact, "fixture should contain at least one high-jaccard near-dup pair"
    assert exact <= lsh


def test_simhash_range(spark, sf_dir):
    from duckdb_ml_spark.operators.dedup import simhash_docs

    rows = simhash_docs(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.simhash < (1 << 60)


def test_dedup_clusters_chain_and_isolated(spark):
    """Chain 1-2-3 collapses to cluster 1 (two propagation hops), separate pair
    10-11 clusters to 10, isolated 99 keeps itself."""
    from duckdb_ml_spark.operators.dedup import dedup_clusters

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id bigint")
    pairs = spark.createDataFrame([(2, 3), (1, 2), (10, 11)], "doc_a bigint, doc_b bigint")
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(nodes, pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_embedding_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Banded hyperplane-LSH pairs must be a subset of brute-force pairs (same
    verify filter) with non-trivial recall at the configured threshold."""
    from duckdb_ml_spark.operators.dedup import embedding_lsh_pairs, embedding_neardup_pairs

    lsh = {(r.vec_a, r.vec_b) for r in embedding_lsh_pairs(spark, sf_dir).collect()}
    brute = {(r.vec_a, r.vec_b) for r in embedding_neardup_pairs(spark, sf_dir).collect()}
    assert lsh <= brute
    if brute:
        assert len(lsh & brute) / len(brute) > 0.3


def test_embedding_lsh_scale_config_fewer_candidates_high_recall(spark, sf_dir):
    """The at-scale config (32-bit sig, 8-bit bands) must (a) generate far
    fewer candidates than the 16/4 benchmark config — random-pair band
    collision drops 4·2^-4 → 4·2^-8 — and (b) keep high recall for TRUE
    near-dups (cos ≥ 0.9), which agree on almost all hyperplane bits."""
    from duckdb_ml_spark.operators.dedup import (
        embedding_lsh_candidates,
        embedding_lsh_pairs,
        embedding_lsh_signatures,
        embedding_neardup_pairs,
    )

    cand_16_4 = embedding_lsh_candidates(
        embedding_lsh_signatures(spark, sf_dir, nbits=16), nbits=16, band_bits=4
    ).count()
    cand_32_8 = embedding_lsh_candidates(
        embedding_lsh_signatures(spark, sf_dir, nbits=32), nbits=32, band_bits=8
    ).count()
    assert cand_32_8 < cand_16_4 / 4, (cand_32_8, cand_16_4)

    brute_hi = {
        (r.vec_a, r.vec_b)
        for r in embedding_neardup_pairs(spark, sf_dir, threshold=0.9).collect()
    }
    lsh_hi = {
        (r.vec_a, r.vec_b)
        for r in embedding_lsh_pairs(
            spark, sf_dir, threshold=0.9, nbits=32, band_bits=8
        ).collect()
    }
    assert lsh_hi <= brute_hi
    if brute_hi:
        assert len(lsh_hi) / len(brute_hi) >= 0.9, (len(lsh_hi), len(brute_hi))


def test_semantic_dedup_planted_dups_and_invariants(spark):
    """SemDeDup contract on a planted corpus: (a) every input id comes back
    exactly once; (b) a near-copy (cos ≈ 1) of a lower-id vector in the same
    cluster is dropped, the lower id kept; (c) the result is invariant to
    input partitioning (the hash-repartition on bucket, not input order,
    decides co-location)."""
    from duckdb_ml_spark.operators.dedup import semantic_dedup

    # two well-separated directions; ids 0 and 25 are the stride centroids
    base = [1.0, 0.0, 0.0, 0.0]
    other = [0.0, 1.0, 0.0, 0.0]
    rows = [(0, base), (25, other)]
    rows.append((3, [0.999, 0.01, 0.0, 0.0]))  # near-copy of 0 → dropped
    rows.append((7, [0.0, 0.0, 1.0, 0.0]))  # orthogonal to its centroid peers → kept
    rows.append((31, [0.01, 0.999, 0.0, 0.0]))  # near-copy of 25 → dropped
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    out = {r.vec_id: r for r in semantic_dedup(df).collect()}
    assert sorted(out) == [0, 3, 7, 25, 31]
    assert out[0].kept and out[25].kept and out[7].kept
    assert not out[3].kept and not out[31].kept
    # same-cluster co-assignment for the planted near-copies
    assert out[3].bucket == out[0].bucket
    assert out[31].bucket == out[25].bucket

    re = {r.vec_id: (r.bucket, r.kept) for r in semantic_dedup(df.repartition(7)).collect()}
    assert re == {k: (v.bucket, v.kept) for k, v in out.items()}


def test_semantic_dedup_kmeans_mode_same_contract(spark, sf_dir):
    """The kmeans quantizer mode (the production path — no oracle) must keep
    the row-per-input contract and drop a comparable near-dup population to
    the stride mode (both bound the same pairwise threshold per cluster)."""
    from duckdb_ml_spark.operators.dedup import semantic_dedup
    from duckdb_ml_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    out = semantic_dedup(emb, centroids="kmeans")
    assert out.count() == n
    n_dropped = out.where(~F.col("kept")).count()
    assert 0 < n_dropped < n // 2


def test_ivf_kmeans_centroids_recall_at_least_stride(spark, sf_dir):
    """IVF with real KMeans centroids must match or beat the modulo-sample
    centroid mode on top-k recall vs the exact brute force (learned buckets
    follow the data distribution; a modulo sample doesn't)."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.similarity import (
        N_QUERIES,
        brute_force_topk,
        ivf_topk,
    )
    from duckdb_ml_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < N_QUERIES)
    truth = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs).collect()}
    got_stride = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, qs).collect()}
    got_kmeans = {
        (r.query_id, r.neighbor_id) for r in ivf_topk(emb, qs, centroids="kmeans").collect()
    }
    rec_stride = len(got_stride & truth) / len(truth)
    rec_kmeans = len(got_kmeans & truth) / len(truth)
    assert rec_kmeans >= rec_stride, (rec_kmeans, rec_stride)


def test_verify_pairs_join_path_matches_matrix_path(spark, sf_dir):
    """The large-corpus ID-join verify strategy must return exactly the
    broadcast-matrix strategy's pairs (same fold math, different data motion)."""
    from duckdb_ml_spark.operators.dedup import (
        embedding_lsh_candidates,
        embedding_lsh_signatures,
        verify_pairs_cosine,
    )
    from duckdb_ml_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    cand = embedding_lsh_candidates(embedding_lsh_signatures(spark, sf_dir)).persist()
    via_matrix = {
        (r.vec_a, r.vec_b) for r in verify_pairs_cosine(cand, emb, 0.4).collect()
    }
    via_join = {
        (r.vec_a, r.vec_b)
        for r in verify_pairs_cosine(cand, emb, 0.4, max_matrix_rows=0).collect()
    }
    assert via_matrix == via_join and via_matrix


def test_cosine_pairs_tiled_matches_single_broadcast(spark, sf_dir):
    """Blocked (multi-tile) pair generation must reproduce the one-shot
    broadcast kernel's pairs exactly — tiling changes memory shape, not math."""
    from duckdb_ml_spark.operators.vec import cosine_pairs_tiled
    from duckdb_ml_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    one = {(r.vec_a, r.vec_b) for r in cosine_pairs_tiled(emb, "vec_id", max_tile_rows=1 << 30).collect()}
    tiled = {(r.vec_a, r.vec_b) for r in cosine_pairs_tiled(emb, "vec_id", max_tile_rows=97).collect()}
    assert one == tiled and one


# --- vec kernels -------------------------------------------------------------


def test_matrix_kernel_matches_hof_expression(spark, sf_dir):
    """Broadcast-matrix cosine must be bit-identical to the sequential-fold
    higher-order-function expression (the parity contract in vec.py)."""
    from duckdb_ml_spark.operators.similarity import cosine
    from duckdb_ml_spark.operators.vec import collect_matrix, cosine_scores_vs_broadcast

    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    ids, M = collect_matrix(q, "vec_id")
    kernel = {
        (r.row_id, r.query_id): r.cos
        for r in cosine_scores_vs_broadcast(emb.limit(100), ids, M, "vec_id").collect()
    }
    a = emb.limit(100).select(F.col("vec_id").alias("row_id"), F.col("embedding").alias("ea"))
    b = q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("eb"))
    ed = lambda c: F.transform(c, lambda x: x.cast("double"))
    hof = {
        (r.row_id, r.query_id): r.cos
        for r in a.crossJoin(F.broadcast(b))
        .where(F.col("row_id") != F.col("query_id"))
        .select("row_id", "query_id", cosine(ed(F.col("ea")), ed(F.col("eb"))).alias("cos"))
        .collect()
    }
    assert kernel.keys() == hof.keys()
    for k in kernel:
        assert kernel[k] == hof[k]  # exact equality, not approx


# --- sampling ----------------------------------------------------------------


def test_split_disjoint_exhaustive_stable(spark, sf_dir):
    from duckdb_ml_spark.operators.sampling import split_train_test

    docs = load(spark, sf_dir, "documents")
    train, test = split_train_test(docs, "doc_id")
    n, tr, te = docs.count(), train.count(), test.count()
    assert tr + te == n and 0 < te < n
    # stable under repartitioning (partition-order independence)
    tr_ids = {r.doc_id for r in train.select("doc_id").collect()}
    tr_ids2 = {
        r.doc_id
        for r in split_train_test(docs.repartition(13), "doc_id")[0].select("doc_id").collect()
    }
    assert tr_ids == tr_ids2


def test_stratified_sample_keeps_other_strata(spark, sf_dir):
    from duckdb_ml_spark.operators.sampling import stratified_sample

    docs = load(spark, sf_dir, "documents")
    kept = stratified_sample(docs, "doc_id", "lang", {"en": 30})
    full_other = docs.where(F.col("lang") != "en").count()
    assert kept.where(F.col("lang") != "en").count() == full_other
    en_full = docs.where(F.col("lang") == "en").count()
    en_kept = kept.where(F.col("lang") == "en").count()
    assert 0.15 * en_full < en_kept < 0.45 * en_full  # ~30% with hash variance


# --- temporal joins ----------------------------------------------------------


def test_as_of_join_boundaries(spark):
    """Inclusive at-equal-ts, latest-before otherwise, null when nothing before,
    keys never mix."""
    import datetime as dt

    from duckdb_ml_spark.operators.asof import as_of_join

    t = lambda m: dt.datetime(2025, 1, 1, 0, m)
    left = spark.createDataFrame(
        [(1, t(5), "e1"), (1, t(10), "e2"), (1, t(2), "e0"), (2, t(30), "e3")],
        "k bigint, ts timestamp, ev string",
    )
    right = spark.createDataFrame(
        [(1, t(5), 100), (1, t(9), 200), (2, t(40), 300)],
        "k bigint, rts timestamp, val int",
    )
    out = {
        r.ev: r.asof_val
        for r in as_of_join(left, right, "k", "ts", "rts", ["val"]).collect()
    }
    assert out == {"e1": 100, "e2": 200, "e0": None, "e3": None}


def test_range_pair_counts_crafted(spark, monkeypatch, tmp_path):
    """3 events 5 minutes apart: (a,b) and (b,c) pair within 10 min, (a,c) at
    exactly 10 min is excluded (half-open window)."""
    import datetime as dt

    from duckdb_ml_spark.operators import asof as asof_mod

    rows = [(i, dt.datetime(2025, 1, 1, 0, 5 * i), 0, "x", 0.0, "{}") for i in range(3)]
    df = spark.createDataFrame(rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string")
    out = str(tmp_path)
    df.write.mode("overwrite").parquet(f"{out}/events.parquet")
    # route tables.load("events") at this dir through plain parquet (no nanos)
    monkeypatch.setattr(asof_mod, "load", lambda spark, sf, name: spark.read.parquet(f"{out}/{name}.parquet"))
    got = asof_mod.range_pair_counts(spark, out).collect()
    assert len(got) == 1 and got[0].n_pairs == 2


# --- multimodal --------------------------------------------------------------


def test_decode_media_fake_values(spark):
    from duckdb_ml_spark.operators.multimodal import decode_media

    df = spark.createDataFrame([(1, bytearray(b"AB")), (2, bytearray(bytes(range(20))))],
                               "doc_id bigint, media binary")
    rows = {r.doc_id: r for r in decode_media(df).collect()}
    assert rows[1].n_bytes == 2
    assert rows[1].features[0] == pytest.approx(ord("A") / 255.0)
    assert rows[1].features[2] == 0.0  # zero-padded
    assert rows[2].n_bytes == 20
    assert len(rows[2].features) == 16  # truncated to dim


def test_decode_media_real_path_is_stubbed(spark):
    from duckdb_ml_spark.operators.multimodal import decode_media

    df = spark.createDataFrame([(1, bytearray(b"x"))], "doc_id bigint, media binary")
    with pytest.raises(Exception) as ei:
        decode_media(df, fake=None).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(ei.value, NotImplementedError)


def test_sample_frames_strided(spark):
    from duckdb_ml_spark.operators.multimodal import sample_frames

    payload = bytes(300)  # 5 frames of 64 -> kept frames 0, 4
    df = spark.createDataFrame([(7, bytearray(payload))], "doc_id bigint, media binary")
    rows = sorted(sample_frames(df).collect(), key=lambda r: r.frame_idx)
    assert [r.frame_idx for r in rows] == [0, 4]
    assert len(rows[0].frame) == 64
    assert len(rows[1].frame) == 300 - 4 * 64


def test_metadata_projection_prunes_payload(spark, sf_dir):
    """Metadata-only access must not read the payload-bearing column at the
    scan (column pruning reaches the parquet reader)."""
    from duckdb_ml_spark.operators.multimodal import media_table

    df = media_table(spark, sf_dir).select("doc_id", "meta.media_type")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1][:200]


# --- text --------------------------------------------------------------------


def test_quality_score_bounds(spark, sf_dir):
    from duckdb_ml_spark.operators.text import quality_score

    rows = quality_score(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0.0 <= r.quality_score <= 1.0001


def test_lang_id_detects_english_corpus(spark, sf_dir):
    """The synthetic corpus text is English-like for every row (the `lang`
    column is random metadata, not the text's language), so the stopword
    heuristic should call 'en' for a clear majority and never another language."""
    from duckdb_ml_spark.operators.text import lang_id

    counts = {r.pred_lang: r.n for r in
              lang_id(spark, sf_dir).groupBy("pred_lang").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert counts.get("en", 0) / total > 0.8
    assert set(counts) <= {"en", "unknown"}


def test_knn_join_structure_and_recall(spark, sf_dir):
    """k-NN join: ranks are 1..k per vector, no self pairs, and LSH-bounded
    recall@3 vs exact brute force clears the 4-bit-band operating point's
    measured floor (0.45 on this synthetic set; wider bands raise it)."""
    from duckdb_ml_spark.operators.similarity import brute_force_topk, knn_join
    from duckdb_ml_spark.operators.vec import embedding_dim
    from duckdb_ml_spark.tables import load

    emb = load(spark, sf_dir, "embeddings")
    ann_rows = knn_join(spark, sf_dir, k=3).collect()
    assert ann_rows
    by_vec = {}
    for r in ann_rows:
        assert r.vec_id != r.neighbor_id
        by_vec.setdefault(r.vec_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_vec.values())

    ann = {(r.vec_id, r.neighbor_id) for r in ann_rows}
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, emb, k=3, dim=embedding_dim(emb)).collect()
    }
    recall = len(ann & exact) / len(exact)
    assert recall >= 0.35, f"recall@3 {recall}"


def test_asof_forward_and_tolerance(spark):
    """merge_asof parity: forward picks the earliest at-or-after match;
    tolerance nulls matches farther than the bound (pandas semantics)."""
    import datetime as dt

    from duckdb_ml_spark.operators.asof import as_of_join

    t = lambda s: dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)
    left = spark.createDataFrame(
        [(1, t(10)), (1, t(30)), (2, t(5))], "k int, lts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t(12), "a"), (1, t(25), "b"), (2, t(100), "c")],
        "k int, rts timestamp, v string",
    )
    fwd = {
        (r.k, r.lts.second): r.asof_v
        for r in as_of_join(left, right, "k", "lts", "rts", ["v"], direction="forward").collect()
    }
    assert fwd == {(1, 10): "a", (1, 30): None, (2, 5): "c"}

    tol = {
        (r.k, r.lts.second): r.asof_v
        for r in as_of_join(
            left, right, "k", "lts", "rts", ["v"], direction="forward", tolerance_s=10
        ).collect()
    }
    assert tol == {(1, 10): "a", (1, 30): None, (2, 5): None}  # 95s > 10s tol

    back = {
        (r.k, r.lts.second): r.asof_v
        for r in as_of_join(
            left, right, "k", "lts", "rts", ["v"], direction="backward", tolerance_s=3
        ).collect()
    }
    # (1,30): nearest backward match t(25) is 5s old > 3s tol → nulled
    assert back == {(1, 10): None, (1, 30): None, (2, 5): None}


def test_quantized_topk_high_agreement_with_exact(spark, sf_dir):
    """int8 codes lose <1% cosine precision on smooth embeddings: the quantized
    top-5 must overlap the exact top-5 heavily (≥60% of neighbor slots)."""
    from duckdb_ml_spark.operators.similarity import _brute_topk_q, quantized_topk

    exact = {(r.query_id, r.neighbor_id) for r in _brute_topk_q(spark, sf_dir).collect()}
    quant = {(r.query_id, r.neighbor_id) for r in quantized_topk(spark, sf_dir).collect()}
    assert len(quant) == len(exact)
    assert len(exact & quant) >= 0.6 * len(exact)


def test_quantized_topk_no_self_neighbors(spark, sf_dir):
    from duckdb_ml_spark.operators.similarity import quantized_topk

    rows = quantized_topk(spark, sf_dir).collect()
    assert all(r.query_id != r.neighbor_id for r in rows)
    assert all(1 <= r.rank <= 5 for r in rows)


def test_unigram_logprob_bounds(spark, sf_dir):
    """avg_logp ∈ [ln(1/total), 0); ppl ≥ 1; the most common corpus includes
    every doc exactly once."""
    from duckdb_ml_spark.operators.text import unigram_logprob

    docs = load(spark, sf_dir, "documents")
    rows = unigram_logprob(spark, sf_dir).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert r.avg_logp < 0
        assert r.min_logp <= r.avg_logp
        assert r.ppl >= 1.0


def test_score_id_pairs_join_path_matches_matrix_path(spark, sf_dir):
    """score_id_pairs_cosine must pick the ID-join gather above the corpus-size
    gate and return the broadcast-matrix strategy's exact rows (VERDICT r2 #4:
    no unconditional full-corpus driver collect)."""
    from duckdb_ml_spark.operators.dedup import (
        embedding_lsh_candidates,
        embedding_lsh_signatures,
    )
    from duckdb_ml_spark.operators.vec import score_id_pairs_cosine

    emb = load(spark, sf_dir, "embeddings")
    und = embedding_lsh_candidates(embedding_lsh_signatures(spark, sf_dir)).persist()
    via_matrix = {
        (r.vec_a, r.vec_b, r.cos) for r in score_id_pairs_cosine(und, emb).collect()
    }
    via_join = {
        (r.vec_a, r.vec_b, r.cos)
        for r in score_id_pairs_cosine(und, emb, max_matrix_rows=0).collect()
    }
    und.unpersist()
    assert via_matrix == via_join and via_matrix


def test_exploded_shingles_matches_hof_form(spark, sf_dir):
    """The codegen position-explode shingle path must emit exactly the HOF
    transform form's (doc_id, shingle) multiset — including <n-token docs."""
    from collections import Counter

    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.textnorm import (
        exploded_shingles,
        shingles_from_tokens,
        tokens,
    )

    docs = load(spark, sf_dir, "documents").limit(500)
    short = spark.createDataFrame(
        [(100001, "one two"), (100002, "one"), (100003, ""), (100004, "a b c")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").union(short)
    fast = Counter(
        (r.doc_id, r.shingle) for r in exploded_shingles(both).collect()
    )
    toked = both.select("doc_id", tokens(F.col("text")).alias("__w"))
    hof = Counter(
        (r.doc_id, r.shingle)
        for r in toked.select(
            "doc_id", F.explode(shingles_from_tokens(F.col("__w"))).alias("shingle")
        ).collect()
    )
    assert fast == hof and fast


def test_embedding_lsh_masked_path_matches_banded_plan(spark, sf_dir):
    """The bounded-corpus masked-broadcast strategy of embedding_lsh_pairs must
    emit exactly the banded shuffle plan's pairs (bit-identical signatures ⇒
    identical collisions; bit-identical cosine ⇒ identical filter)."""
    from duckdb_ml_spark.operators.dedup import (
        embedding_lsh_candidates,
        embedding_lsh_signatures,
        embedding_lsh_pairs,
        verify_pairs_cosine,
    )

    emb = load(spark, sf_dir, "embeddings")
    banded = {
        (r.vec_a, r.vec_b)
        for r in verify_pairs_cosine(
            embedding_lsh_candidates(embedding_lsh_signatures(spark, sf_dir)),
            emb,
            0.4,
            cache_key=sf_dir,
        ).collect()
    }
    masked = {(r.vec_a, r.vec_b) for r in embedding_lsh_pairs(spark, sf_dir).collect()}
    assert masked == banded and masked


def test_minhash_driver_banding_matches_plan(spark, sf_dir):
    """The bounded-corpus signature-collect + driver-banding strategy must
    produce exactly the banded self-join plan's (pair, est) rows."""
    from duckdb_ml_spark.operators.dedup import (
        _collect_signatures,
        _driver_lsh_pairs,
        minhash_signatures,
        minhash_lsh_pairs,
    )

    sigs = _collect_signatures(spark, sf_dir)
    assert sigs is not None
    driver = {(a, b, e) for a, b, e in _driver_lsh_pairs(*sigs, threshold=0.3)}
    plan = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(
            minhash_signatures(load(spark, sf_dir, "documents"))
        ).collect()
    }
    assert driver == plan and driver


# --- real BPE ----------------------------------------------------------------


def test_bpe_merge_loop_golden():
    """Hand-computed Sennrich example: corpus {ab: 3, abc: 2}. Pair counts
    round 1: (a,b)=5, (b,</w>)=3, (b,c)=2, (c,</w>)=2 → merge (a,b). Round 2:
    (ab,</w>)=3, (ab,c)=2, (c,</w>)=2 → merge (ab,</w>)."""
    from duckdb_ml_spark.operators.bpe import END_OF_WORD, _merge_loop

    vocab = {("a", "b", END_OF_WORD): 3, ("a", "b", "c", END_OF_WORD): 2}
    merges = _merge_loop(dict(vocab), 2)
    assert merges == [("a", "b"), ("ab", END_OF_WORD)]


def test_bpe_encode_word_applies_priority():
    from duckdb_ml_spark.operators.bpe import END_OF_WORD, encode_word

    ranks = {("a", "b"): 0, ("ab", END_OF_WORD): 1}
    assert encode_word("ab", ranks) == ["ab" + END_OF_WORD]
    assert encode_word("abc", ranks) == ["ab", "c", END_OF_WORD]
    assert encode_word("xyz", ranks) == ["x", "y", "z", END_OF_WORD]


def test_bpe_end_to_end_compresses(spark, sf_dir):
    """Trained merges must be deterministic and strictly compress the corpus
    versus character-level (n_bpe_tokens < total chars, ≥ n_words), and
    re-training must produce the identical merge table."""
    from duckdb_ml_spark.operators.bpe import bpe_token_counts, train_bpe_merges

    docs = load(spark, sf_dir, "documents").limit(300)
    m1 = train_bpe_merges(docs, n_merges=50)
    m2 = train_bpe_merges(docs, n_merges=50)
    assert m1 == m2 and len(m1) == 50
    rows = bpe_token_counts(docs, m1).collect()
    assert rows
    for r in rows:
        assert r.n_bpe_tokens >= r.n_words  # a word is ≥ 1 subword


def test_driver_lsh_pairs_bails_on_pair_blowup():
    """Candidate blowup must return None (callers fall back to the
    distributed banded plan) instead of materializing an unbounded set."""
    import numpy as np

    from duckdb_ml_spark.operators.dedup import MINHASH_K, _driver_lsh_pairs

    ids = np.arange(10, dtype=np.int64)
    mh = np.zeros((10, MINHASH_K), dtype=np.int64)  # all docs collide everywhere
    assert _driver_lsh_pairs(ids, mh, threshold=0.3, max_pairs=5) is None
    full = _driver_lsh_pairs(ids, mh, threshold=0.3)
    assert len(full) == 45 and all(e == 1.0 for _, _, e in full)


def test_gather_indices_raises_on_missing_id():
    """searchsorted maps a missing id to a neighbor row silently — the guard
    must turn that into a loud KeyError (ADVICE r3)."""
    import numpy as np
    import pytest as _pytest

    from duckdb_ml_spark.operators.vec import gather_indices

    ids = np.array([10, 3, 7], dtype=np.int64)
    order = np.argsort(ids)
    sorted_ids = ids[order]
    got = gather_indices(order, sorted_ids, np.array([7, 10, 3]))
    assert [ids[i] for i in got] == [7, 10, 3]
    with _pytest.raises(KeyError):
        gather_indices(order, sorted_ids, np.array([7, 99]))
    with _pytest.raises(KeyError):  # past the right edge (clipped position)
        gather_indices(order, sorted_ids, np.array([1000]))


def test_bpe_merge_table_matches_golden(spark):
    """The sf0.01 merge-table query must reproduce the committed golden (which
    still seeds the fixed packing tokenizer and full_lexicon)."""
    from duckdb_ml_spark.operators.bpe import _SF001_GOLDEN_MERGES, bpe_merge_table

    rows = bpe_merge_table(spark, "/root/testdata/sf0.01").collect()
    got = [(r.lhs, r.rhs) for r in sorted(rows, key=lambda r: r.merge_rank)]
    assert got == list(_SF001_GOLDEN_MERGES)


@pytest.mark.parametrize("sf_path", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_bpe_merge_table_oracle_sf_independent(spark, sf_path):
    """VERDICT r11 item 3: the recursive-CTE oracle must reproduce the Python
    trainer's merge table AT ANY SF — the r11 golden-VALUES oracle was the one
    registry row that went red at sf0.001 for a non-correctness reason. Runs
    the DuckDB SQL and the Spark-side trainer on the same corpus and compares
    the ordered (rank, lhs, rhs) lists exactly (105 merges at sf0.001, 106 at
    sf0.01 — the differing lengths are the sf-dependence the oracle now
    tracks instead of pinning)."""
    from duckdb_ml_spark.operators.bpe import _merge_table_oracle, train_bpe_merges
    from duckdb_ml_spark.tables import load
    from duckdb_ml_spark.testing import duckdb_connection

    con = duckdb_connection(sf_path)
    try:
        sql_rows = sorted(con.execute(_merge_table_oracle()).fetchall())
    finally:
        con.close()
    merges = train_bpe_merges(load(spark, sf_path, "documents"))
    assert sql_rows == [(i, l, r) for i, (l, r) in enumerate(merges)]


def test_bpe_merge_table_oracle_truncation_binds(spark):
    """ADVICE r12: the oracle's wc CTE must apply the SAME max_vocab
    truncation as train_bpe_merges. Run both with a max_vocab small enough
    to BIND on the sf0.001 corpus (31 distinct words → cap at 8) and require
    identical merge tables — with the truncation omitted on either side the
    vocabularies differ and the merge sequences diverge immediately."""
    from duckdb_ml_spark.operators.bpe import _merge_table_oracle, train_bpe_merges
    from duckdb_ml_spark.tables import load
    from duckdb_ml_spark.testing import duckdb_connection

    sf_path = "/root/testdata/sf0.001"
    con = duckdb_connection(sf_path)
    try:
        n_words = con.execute(
            "SELECT count(DISTINCT word) FROM (SELECT unnest(string_split("
            "lower(text), ' ')) AS word FROM documents) WHERE word <> ''"
        ).fetchone()[0]
        assert n_words > 8, "corpus too small for the truncation to bind"
        sql_rows = sorted(con.execute(_merge_table_oracle(max_vocab=8)).fetchall())
    finally:
        con.close()
    merges = train_bpe_merges(load(spark, sf_path, "documents"), max_vocab=8)
    assert sql_rows == [(i, l, r) for i, (l, r) in enumerate(merges)]
    assert len(merges) > 0


def test_dedup_keep_best_picks_highest_quality(spark):
    """keep-best must select the max-score doc per cluster with the id
    tie-break, and report the right cluster sizes."""
    from duckdb_ml_spark.operators.dedup import dedup_keep_best

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "doc_id bigint, cluster_id bigint"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (10, 0.5), (11, 0.5)],
        "doc_id bigint, quality_score double",
    )
    got = {r.cluster_id: r for r in dedup_keep_best(None, clusters, scores).collect()}
    assert got[1].keep_doc_id == 2 and got[1].cluster_size == 3  # 0.9 tie -> lower id
    assert got[10].keep_doc_id == 10 and got[10].cluster_size == 2


def test_tfidf_rescore_properties(spark, sf_dir):
    """TF-IDF cosine of LSH candidates: scores in [-1, 1] (weights can be
    negative only if df > N, impossible -> [0, 1]); identical texts score 1."""
    from duckdb_ml_spark.operators.similarity import tfidf_weights

    rows = [
        (1, "alpha beta gamma"),
        (2, "alpha beta gamma"),  # exact dup of 1
        (3, "alpha delta epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    w = tfidf_weights(docs)
    from pyspark.sql import functions as F

    norms = {r.doc_id: r.n for r in w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("n")).collect()}
    wl = {(r.doc_id, r.term): r.w for r in w.collect()}
    # dup pair scores exactly 1
    dot12 = sum(wl[(1, t)] * wl[(2, t)] for t in ("alpha", "beta", "gamma"))
    assert abs(dot12 / (norms[1] * norms[2]) - 1.0) < 1e-12
    # 'alpha' appears in every doc -> idf = ln(1) = 0 -> zero weight
    assert wl[(1, "alpha")] == 0.0


def test_pii_redact_counts_and_replaces(spark):
    from duckdb_ml_spark.operators.text import redact_pii

    rows = [
        (1, "mail me at bob.smith@corp.example then call 555-0199 from 10.0.0.1"),
        (2, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (1, 1, 1)
    assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 0)
    import hashlib

    want = "mail me at <EMAIL> then call <PHONE> from <IP>"
    assert got[1].redacted_md5 == hashlib.md5(want.encode()).hexdigest()
    assert got[1].redacted_len == len(want)
    # the Arrow/RE2 kernel variant is plan-different, answer-identical
    arrow = {r.doc_id: r for r in redact_pii(df, mode="arrow").collect()}
    assert arrow == got


def test_pii_counts_ignore_preexisting_placeholders(spark):
    """ADVICE r5: a source that already contains a placeholder literal must
    not inflate the redaction inventory — counts are post − pre occurrences
    in both engine modes."""
    from duckdb_ml_spark.operators.text import redact_pii

    rows = [
        (1, "already says <EMAIL> but real mail is a@b.co"),
        (2, "<PHONE> <IP> and nothing real"),
        (3, "<EMAIL> only"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    for mode in ("fused", "arrow"):
        got = {r.doc_id: r for r in redact_pii(df, mode=mode).collect()}
        assert (got[1].n_emails, got[1].n_phones, got[1].n_ips) == (1, 0, 0), mode
        assert (got[2].n_emails, got[2].n_phones, got[2].n_ips) == (0, 0, 0), mode
        assert (got[3].n_emails, got[3].n_phones, got[3].n_ips) == (0, 0, 0), mode


def test_incremental_lsh_equals_filtered_full(spark, sf_dir):
    """The incremental new-vs-corpus banded join must produce exactly the
    (one-side-new) subset of the full all-pairs LSH output — the efficiency
    path changes the plan, never the answer."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.dedup import (
        NEW_MOD,
        incremental_lsh_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from duckdb_ml_spark.tables import load

    sig = minhash_signatures(load(spark, sf_dir, "documents"))
    inc = {
        (r.new_doc_id, r.dup_of, r.est_jaccard)
        for r in incremental_lsh_pairs(
            sig.where(F.col("doc_id") % NEW_MOD == 0),
            sig.where(F.col("doc_id") % NEW_MOD != 0),
        ).collect()
    }
    full = minhash_lsh_pairs(sig).collect()
    want = set()
    for r in full:
        a_new, b_new = r.doc_a % NEW_MOD == 0, r.doc_b % NEW_MOD == 0
        if a_new != b_new:
            new, old = (r.doc_a, r.doc_b) if a_new else (r.doc_b, r.doc_a)
            want.add((new, old, r.est_jaccard))
    assert inc == want and inc


def test_epoch_shuffle_is_a_partition_and_reseeds(spark):
    """Every id lands in exactly one (shard, pos) slot; positions are dense
    1..n_shard; the permutation is deterministic across repartitionings and
    CHANGES under a new seed (the per-epoch reshuffle contract)."""
    from duckdb_ml_spark.operators.sampling import EPOCH_SHARDS, epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(400)], "doc_id bigint")
    out = epoch_shuffle(df).collect()
    assert len(out) == 400 and len({r.doc_id for r in out}) == 400
    by_shard: dict = {}
    for r in out:
        assert 0 <= r.shard < EPOCH_SHARDS
        by_shard.setdefault(r.shard, []).append(r.pos)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(1, len(poss) + 1))  # dense ranks
    again = {(r.doc_id, r.shard, r.pos) for r in epoch_shuffle(df.repartition(5)).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in out}
    epoch1 = {(r.doc_id, r.shard, r.pos) for r in epoch_shuffle(df, seed="epoch1").collect()}
    assert epoch1 != again  # reseed -> different permutation


def test_mixture_resample_counts_and_determinism(spark):
    """Integer weights repeat exactly; fractional weights repeat
    floor(w)/ceil(w) with the right empirical rate; output is identical
    across repartitionings; replica indices are dense."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.sampling import mixture_resample

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id bigint")
    exact2 = mixture_resample(df, F.lit(2.0))
    assert exact2.count() == 2000
    assert exact2.groupBy("doc_id").count().where("count != 2").count() == 0
    zero = mixture_resample(df, F.lit(0.0))
    assert zero.count() == 0
    half = mixture_resample(df, F.lit(1.5)).groupBy("doc_id").count().collect()
    per = {r["doc_id"]: r["count"] for r in half}
    assert set(per.values()) <= {1, 2} and len(per) == 1000
    n2 = sum(1 for c in per.values() if c == 2)
    assert 350 < n2 < 650  # hash-uniform bernoulli at p=0.5
    a = sorted((r.doc_id, r.replica) for r in mixture_resample(df, F.lit(1.5)).collect())
    b = sorted(
        (r.doc_id, r.replica)
        for r in mixture_resample(df.repartition(7), F.lit(1.5)).collect()
    )
    assert a == b


def test_importance_sample_respects_probabilities(spark):
    """keep_prob=0 keeps nothing, 1.0 keeps everything, and the kept set is
    identical across repartitionings (determinism contract)."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.sampling import importance_sample

    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id bigint")
    assert importance_sample(df, F.lit(0.0)).count() == 0
    assert importance_sample(df, F.lit(1.0)).count() == 500
    half = importance_sample(df, F.lit(0.5))
    n = half.count()
    assert 150 < n < 350  # hash-uniform, not exact
    a = {r.doc_id for r in half.collect()}
    b = {r.doc_id for r in importance_sample(df.repartition(7), F.lit(0.5)).collect()}
    assert a == b


def test_ivf_index_prunes_partitions_and_matches_fresh(spark, sf_dir):
    """The persisted index's query scan must carry a bucket PartitionFilter
    (directory pruning — the point of partitioning the assignment table) and
    return exactly the fresh-build ivf_topk rows."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.similarity import (
        N_QUERIES,
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
    )
    from duckdb_ml_spark.operators.vec import embedding_dim
    from duckdb_ml_spark.tables import load

    path = build_ivf_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    got = ivf_topk_from_index(spark, sf_dir, path, queries)
    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "bucket" in scan_line
    fresh = ivf_topk(emb, queries, dim=embedding_dim(emb, cache_key=sf_dir), cache_key=sf_dir)
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in fresh.collect()}


def test_dq_audit_detects_injected_violations(spark, sf_dir):
    """The audit must be 0-violation on the clean corpus and detect every
    class of injected corruption."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.dq import dq_audit_orders
    from duckdb_ml_spark.tables import load

    clean = {r.check_name: r.violations for r in dq_audit_orders(spark, sf_dir).collect()}
    assert set(clean) == {
        "pk_dup_orderkey", "null_custkey", "nonpositive_totalprice",
        "bad_orderstatus", "orphan_lineitems",
    }
    assert all(v == 0 for v in clean.values()), clean

    # inject: a duplicated key, a null custkey, a negative price, a bad enum
    orders = load(spark, sf_dir, "orders")
    first = orders.limit(1)
    bad = first.select(
        "o_orderkey",
        F.lit(None).cast("long").alias("o_custkey"),
        *[F.col(c) for c in orders.columns if c not in ("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")],
        F.lit(-5.0).alias("o_totalprice"),
        F.lit("X").alias("o_orderstatus"),
    ).select(*orders.columns)
    import duckdb_ml_spark.operators.dq as dq
    import duckdb_ml_spark.tables as tables

    corrupted = orders.unionByName(bad)
    orig = tables.load
    try:
        tables_load = lambda sp, sf, t: corrupted if t == "orders" else orig(sp, sf, t)
        dq.load = tables_load
        got = {r.check_name: r.violations for r in dq.dq_audit_orders(spark, sf_dir).collect()}
    finally:
        dq.load = orig
    assert got["pk_dup_orderkey"] == 1
    assert got["null_custkey"] == 1
    assert got["nonpositive_totalprice"] == 1
    assert got["bad_orderstatus"] == 1
    assert got["orphan_lineitems"] == 0


def test_pq_codebooks_deterministic_and_shaped():
    import numpy as np

    from duckdb_ml_spark.operators.pq import train_pq_codebooks

    rs = np.random.RandomState(7)
    X = rs.randn(200, 64)
    b1 = train_pq_codebooks(X, m=8, k=16, seed=13, iters=4)
    b2 = train_pq_codebooks(X, m=8, k=16, seed=13, iters=4)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)  # bit-identical across runs (seeded init)
    b3 = train_pq_codebooks(X, m=8, k=16, seed=14, iters=4)
    assert not np.array_equal(b1, b3)


def _pq_codebooks_reference(X, m, k, seed, iters):
    """The per-centroid Lloyd update train_pq_codebooks replaced (kept as the
    byte-identity reference for its bincount form)."""
    import numpy as np

    n, d = X.shape
    dsub = d // m
    k = min(k, n)
    rs = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for s in range(m):
        sub = X[:, s * dsub:(s + 1) * dsub]
        C = sub[rs.permutation(n)[:k]].copy()
        for _ in range(iters):
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(d2, axis=1)
            for j in range(k):
                mask = a == j
                if mask.any():
                    C[j] = sub[mask].mean(axis=0)
        books[s] = C
    return books


@pytest.mark.parametrize(
    "n,m,distinct",
    [
        (500, 16, None),  # pq serving (PQ_M)
        (500, 32, None),  # IVF-PQ residual codebooks (IVFPQ_M)
        (2000, 16, None),
        (37, 16, None),  # k clamped to n
        (300, 16, 40),  # duplicate rows: empty clusters keep their centroid
    ],
)
def test_pq_codebooks_byte_identical_to_loop_reference(n, m, distinct):
    import numpy as np

    from duckdb_ml_spark.operators.pq import PQ_ITERS, PQ_K, PQ_SEED, train_pq_codebooks

    rs = np.random.RandomState(n + m)
    X = rs.randn(distinct or n, 64)
    if distinct:
        X = X[rs.randint(0, distinct, n)]
    got = train_pq_codebooks(X, m=m)
    want = _pq_codebooks_reference(X, m, PQ_K, PQ_SEED, PQ_ITERS)
    assert got.shape == (m, min(PQ_K, n), 64 // m)
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("m", [16, 32])  # PQ_M, IVFPQ_M: 4 and 2 dims per subspace
def test_pq_encode_batch_codes_equal_the_3d_distance_form(m):
    import numpy as np

    from duckdb_ml_spark.operators.pq import _encode_batch, train_pq_codebooks

    rs = np.random.RandomState(m)
    books = train_pq_codebooks(rs.randn(500, 64), m=m)
    X = rs.randn(700, 64)
    codes, _ = _encode_batch(X, books)
    dsub = 64 // m
    want = np.stack(
        [
            np.argmin(
                ((X[:, s * dsub:(s + 1) * dsub][:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2),
                axis=1,
            )
            for s in range(m)
        ],
        axis=1,
    )
    assert codes.tobytes() == want.tobytes()


def test_pq_encode_matches_numpy_argmin(spark, sf_dir):
    import numpy as np

    from duckdb_ml_spark.operators.pq import pq_codebooks_for, pq_encode
    from duckdb_ml_spark.operators.vec import collect_matrix

    emb = load(spark, sf_dir, "embeddings")
    books = pq_codebooks_for(spark, sf_dir)
    got = {
        r.vec_id: (r.l2, list(r.codes))
        for r in pq_encode(emb, books).collect()
    }
    ids, X = collect_matrix(emb, "vec_id")
    m, _, dsub = books.shape
    for i, vid in enumerate(ids[:50]):
        l2, codes = got[int(vid)]
        assert abs(l2 - np.sqrt((X[i] * X[i]).sum())) < 1e-9
        for s in range(m):
            sub = X[i, s * dsub:(s + 1) * dsub]
            d2 = ((sub[None, :] - books[s]) ** 2).sum(axis=1)
            assert codes[s] == int(np.argmin(d2))


def test_pq_recall_band_all_ok(spark, sf_dir):
    from duckdb_ml_spark.operators.pq import _pq_recall_band_q
    from duckdb_ml_spark.operators.similarity import N_QUERIES, TOP_K

    rows = _pq_recall_band_q(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * TOP_K
    assert all(r.pq_recall_ok for r in rows)


def test_chunk_stride_covers_and_overlaps(spark, sf_dir):
    """Chunk coverage contract: chunks tile each doc with window/stride
    overlap, the tail is shorter, every token appears in >= 1 chunk, and
    chunk_text round-trips against the normalized text."""
    from duckdb_ml_spark.operators.text import CHUNK_S, CHUNK_W, chunk_stride
    from duckdb_ml_spark.operators.textnorm import norm_text

    docs = load(spark, sf_dir, "documents")
    norm = {
        r.doc_id: r.nt
        for r in docs.select("doc_id", norm_text(F.col("text")).alias("nt")).collect()
    }
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in chunk_stride(docs).collect():
        by_doc[r.doc_id].append(r)
    assert set(by_doc) == set(norm)
    saw_multi = False
    for d, rs in by_doc.items():
        toks = norm[d].split(" ")
        n = len(toks)
        rs.sort(key=lambda r: r.chunk_id)
        assert rs[0].tok_start == 0
        expected = 1 + max(0, -(-(n - CHUNK_W) // CHUNK_S)) if n > CHUNK_W else 1
        assert len(rs) == expected
        covered = set()
        for r in rs:
            assert r.chunk_text == " ".join(toks[r.tok_start:r.tok_start + r.n_chunk_tokens])
            assert r.n_chunk_tokens <= CHUNK_W
            covered.update(range(r.tok_start, r.tok_start + r.n_chunk_tokens))
        assert covered == set(range(n))
        if len(rs) > 1:
            saw_multi = True
            # consecutive chunks overlap by exactly W - S (except the tail)
            assert rs[1].tok_start == CHUNK_S
    assert saw_multi


def test_dedup_clusters_distributed_path_matches_union_find(spark, sf_dir):
    """Force max_collect_edges=0 so the distributed min-label propagation
    executes, and prove it emits exactly the bounded union-find's components —
    the strategy-equivalence contract for the clustering gate."""
    from duckdb_ml_spark.operators.dedup import dedup_clusters

    # toy graph with a chain (needs >1 propagation hop) + isolated node
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4, 10, 11, 99)], "doc_id bigint")
    pairs = spark.createDataFrame(
        [(3, 4), (2, 3), (1, 2), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    bounded = {r.doc_id: r.cluster_id for r in dedup_clusters(nodes, pairs).collect()}
    dist = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(nodes, pairs, max_collect_edges=0).collect()
    }
    assert dist == bounded == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 99: 99}

    # real corpus pair graph at test SF
    from duckdb_ml_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = load(spark, sf_dir, "documents")
    cand = lsh_candidate_pairs(minhash_signatures(docs))
    b2 = {r.doc_id: r.cluster_id for r in dedup_clusters(docs, cand).collect()}
    d2 = {
        r.doc_id: r.cluster_id
        for r in dedup_clusters(docs, cand, max_collect_edges=0).collect()
    }
    assert d2 == b2


def test_span_dup_fraction_detects_injected_boilerplate(spark):
    """Two docs sharing an exact 6-token boilerplate span must both report
    dup windows; a unique doc reports zero; a short doc (<5 tokens) reports
    fraction 0 with 0 windows."""
    from duckdb_ml_spark.operators.dedup import span_dup_fraction

    boiler = "subscribe to our newsletter for updates"
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta"),
            (2, "totally different words here " + boiler),
            (3, "nothing shared with anyone at all in this one"),
            (4, "tiny doc"),
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in span_dup_fraction(docs).collect()}
    assert got[1].n_dup_windows > 0 and got[2].n_dup_windows > 0
    assert got[3].n_dup_windows == 0 and got[3].dup_fraction == 0.0
    assert got[4].n_windows == 0 and got[4].dup_fraction == 0.0
    # doc 1: 10 tokens -> 6 windows; the 2 windows inside the boilerplate
    # (and only those) are shared
    assert got[1].n_windows == 6 and got[1].n_dup_windows == 2


def test_length_buckets_monotone_and_exhaustive(spark, sf_dir):
    from duckdb_ml_spark.operators.sampling import LEN_BUCKETS, length_buckets

    docs = load(spark, sf_dir, "documents")
    rows = sorted(length_buckets(docs).collect(), key=lambda r: r.bucket)
    assert [r.bucket for r in rows] == list(range(1, LEN_BUCKETS + 1))
    assert sum(r.n_docs for r in rows) == docs.count()
    # equal-frequency: bucket sizes differ by at most 1
    sizes = [r.n_docs for r in rows]
    assert max(sizes) - min(sizes) <= 1
    # tiers are ordered: bucket i's max <= bucket i+1's min
    for a, b in zip(rows, rows[1:]):
        assert a.max_tokens <= b.min_tokens
        assert 0.0 <= a.pad_waste < 1.0


def test_token_budget_selection_properties(spark, sf_dir):
    """Budget contract: per source, kept docs are a quality-prefix (no kept
    doc ranks below a dropped one), the pre-crossing kept mass is under
    budget, and adding the first dropped doc would exceed it."""
    from collections import defaultdict

    from duckdb_ml_spark.operators.sampling import BUDGET_FRACTION, token_budget_selection

    rows = token_budget_selection(spark, sf_dir).collect()
    by_src = defaultdict(list)
    for r in rows:
        by_src[r.source].append(r)
    for src, rs in by_src.items():
        rs.sort(key=lambda r: (-r.quality_score, r.doc_id))
        total = sum(r.n_tokens for r in rs)
        budget = total * BUDGET_FRACTION
        kept_flags = [r.kept for r in rs]
        # prefix property: once a doc is dropped, everything after is dropped
        assert kept_flags == sorted(kept_flags, reverse=True)
        kept = [r for r in rs if r.kept]
        assert kept, src
        # every kept doc started within budget; the first drop did not
        assert all(r.tokens_before < budget for r in kept)
        dropped = [r for r in rs if not r.kept]
        if dropped:
            assert dropped[0].tokens_before >= budget


def test_pq_fused_eval_matches_serving_composition(spark, sf_dir):
    """The fused one-pass eval kernel and the serving-path composition
    (encode table → ADC → brute exact) must emit identical rows."""
    from duckdb_ml_spark.operators.pq import (
        _pq_recall_band_composed, _pq_recall_band_q,
    )

    fused = {tuple(r) for r in _pq_recall_band_q(spark, sf_dir).collect()}
    composed = {tuple(r) for r in _pq_recall_band_composed(spark, sf_dir).collect()}
    assert fused == composed and fused


def test_pack_greedy_nosplit_property_random(spark):
    """Hypothesis: the distributed no-split packing equals a straight Python
    reference on random token-length corpora (incl. zero-length and oversize
    docs), for any shard layout."""
    from hypothesis import given, settings, strategies as st

    from duckdb_ml_spark.operators.pipeline import pack_greedy_nosplit

    CAP = 16

    def ref_pack(lens):
        out, p, fill = [], 0, 0
        for i, n in enumerate(lens):
            if i == 0:
                p, fill = 0, n
            elif fill + n > CAP:
                p, fill = p + 1, n
            else:
                fill += n
            out.append(p)
        return out

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=24), min_size=1, max_size=30),
        st.integers(min_value=1, max_value=3),
    )
    def run(lens, n_shards):
        rows = [
            (i, f"s{i % n_shards}", " ".join(["w"] * n) if n else "")
            for i, n in enumerate(lens)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
        got = {
            r.doc_id: r.pack_id
            for r in pack_greedy_nosplit(docs, capacity=CAP).collect()
        }
        for s in range(n_shards):
            shard = [i for i in range(len(lens)) if i % n_shards == s]
            # Spark's tokenizer counts '' as one token of the empty string;
            # replicate: n_tokens = len(split(norm)) == max(n, 1)... except
            # norm('') == '' splits to [''] -> 1 token; 'w '*n -> n tokens
            expect = ref_pack([max(lens[i], 1) if lens[i] == 0 else lens[i] for i in shard])
            assert [got[i] for i in shard] == expect

    run()


def test_pq_recall_flag_false_on_zero_hits(spark):
    """A query with ZERO shortlist hits must surface as pq_recall_ok=false,
    not vanish (the inner-join row-drop bug the review caught)."""
    from duckdb_ml_spark.operators.pq import _recall_flag

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2)],
        "query_id bigint, neighbor_id bigint, rank int",
    )
    # query 1's shortlist covers both; query 2's covers nothing
    shortlist = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 99)], "query_id bigint, neighbor_id bigint"
    )
    got = {(r.query_id, r.neighbor_id): r.pq_recall_ok
           for r in _recall_flag(exact, shortlist, top_k=2).collect()}
    assert len(got) == 4  # no rows dropped
    assert got[(1, 10)] and got[(1, 11)]
    assert not got[(2, 20)] and not got[(2, 21)]


def test_one_hot_null_and_collision_handling(spark):
    """NULL inputs encode as all-zeros (oracle CASE semantics); NULL is not a
    derived category; sanitized-name collisions get positional suffixes."""
    from duckdb_ml_spark.operators.mlprep import one_hot, one_hot_encode

    df = spark.createDataFrame(
        [(1, "a b"), (2, "a_b"), (3, None), (4, "!!!")],
        "id bigint, cat string",
    )
    out = one_hot_encode(df, "cat")
    cols = [c for c in out.columns if c.startswith("is_")]
    assert len(cols) == len(set(cols)) == 3  # 3 non-null categories, unique names
    rows = {r.id: r for r in out.collect()}
    assert sum(getattr(rows[3], c) for c in cols) == 0  # NULL row: all zeros
    assert sum(getattr(rows[1], c) for c in cols) == 1
    assert sum(getattr(rows[4], c) for c in cols) == 1  # '!!!' got a usable name

    from pyspark.sql import functions as F_

    enum_cols = one_hot(F_.col("cat"), ("a b",), other=True)
    enc = df.select("id", *enum_cols).collect()
    null_row = [r for r in enc if r.id == 3][0]
    assert null_row.is_0 == 0 and null_row.is_other == 0  # not NULL


def test_psi_drift_null_case_and_shift(spark):
    """PSI ~ 0 for identical distributions; large for a shifted snapshot;
    bins are exhaustive and clamped."""
    from duckdb_ml_spark.operators.dq import PSI_BINS, psi_drift

    base = spark.range(2000).select((F.col("id") % 400000).cast("double").alias("v"))
    same = psi_drift(base, base, "v").collect()
    assert len(same) == PSI_BINS
    assert all(abs(r.psi_total) < 1e-6 for r in same)
    # shift everything up by 150k: mass moves bins, PSI must flag it
    shifted = base.select((F.col("v") + 150000.0).alias("v"))
    drift = psi_drift(base, shifted, "v").collect()
    assert drift[0].psi_total > 0.25
    # out-of-range values clamp into the edge bins rather than vanishing
    wild = spark.range(100).select(F.lit(-50.0).alias("v")).union(
        spark.range(100).select(F.lit(9e9).alias("v")))
    w = psi_drift(wild, wild, "v").collect()
    assert sum(r.n_ref for r in w) == 200


def test_contrastive_pairs_labels_verified(spark, sf_dir):
    """Positives really are > 0.4 cosine, negatives really are < 0.2, one
    negative candidate max per anchor, and no pair appears with both labels."""
    import numpy as np

    from duckdb_ml_spark.operators.vec import collect_matrix, contrastive_pairs

    emb = load(spark, sf_dir, "embeddings")
    rows = contrastive_pairs(emb).collect()
    ids, X = collect_matrix(emb, "vec_id")
    pos_of = {int(v): i for i, v in enumerate(ids)}
    def cos(a, b):
        va, vb = X[pos_of[a]], X[pos_of[b]]
        return float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
    pos = [(r.anchor, r.other) for r in rows if r.label == 1]
    neg = [(r.anchor, r.other) for r in rows if r.label == 0]
    assert pos and neg
    assert all(cos(a, b) > 0.4 for a, b in pos)
    assert all(cos(a, b) < 0.2 for a, b in neg)
    assert not (set(pos) & set(neg))
    from collections import Counter

    assert max(Counter(a for a, _ in neg).values()) == 1


def test_ivfpq_serving_equals_eval_shortlist(spark, sf_dir):
    """The bucket-PRUNED serving scan (code table filtered to probed cells,
    residual-ADC LUT + centroid dot) must produce exactly the shortlist the
    fused eval pipeline flags against — plan-different, row-identical."""
    import numpy as np

    from duckdb_ml_spark.operators.ivfpq import (
        _derived_queries,
        _query_probes,
        derive_clustered,
        ivfpq_artifacts,
        ivfpq_shortlist_serving,
    )
    from duckdb_ml_spark.operators.pq import (
        PQ_SHORTLIST,
        _adc_gather,
        _build_lut,
        _encode_batch,
    )
    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix, collect_matrix
    from duckdb_ml_spark.tables import load

    CM, books = ivfpq_artifacts(spark, sf_dir)
    q_ids, Q = _derived_queries(spark, sf_dir)
    P = _query_probes(Q, CM)
    ids, X = collect_matrix(load(spark, sf_dir, "embeddings"), "vec_id")
    D = derive_clustered(X.astype(np.float64), ids)
    buckets = np.argmax(_seq_cosine_matrix(D, CM), axis=1)
    codes, _ = _encode_batch(D - CM[buckets], books)
    l2 = np.sqrt((D * D).sum(axis=1))
    lut, l2q = _build_lut(Q, books)
    flat = lut.reshape(len(q_ids), -1)
    offs = np.arange(books.shape[0]) * books.shape[1]
    raw = _adc_gather(flat, offs, codes, np.ones(len(q_ids)), np.ones(len(ids)))
    adc = ((Q @ CM.T)[:, buckets] + raw) / (l2q[:, None] * l2[None, :])
    want = set()
    for qi, qid in enumerate(q_ids):
        a = adc[qi].copy()
        a[~P[qi, buckets]] = -np.inf
        a[ids == qid] = -np.inf
        # top-PQ_SHORTLIST by (adc desc, id asc) among probed, excluding self
        order = sorted(range(len(ids)), key=lambda j: (-a[j], ids[j]))
        for j in order[:PQ_SHORTLIST]:
            if np.isfinite(a[j]):
                want.add((int(qid), int(ids[j])))
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_shortlist_serving(spark, sf_dir).collect()
    }
    assert got == want


def test_ivfpq_measured_recall_meets_band(spark, sf_dir):
    """The contract the driver row hash-checks: every query's IVF-PQ
    shortlist covers >= RECALL_MIN of its exact top-k on the derived
    vectors (measured min recall is 1.0 at sf0.001/sf0.01/sf0.1)."""
    from duckdb_ml_spark.operators.ivfpq import ivfpq_recall_band

    rows = ivfpq_recall_band(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all(r.ivfpq_recall_ok for r in rows)


def test_mixture_resample_fine_granularity(spark):
    """ADVICE r7 low: the fractional bernoulli must resolve weights finer
    than 1/100 — the old bucket/100 uniform doubled a 0.005 fraction to
    0.01. 60-bit uniform: w=1.005 over 10k ids lands near 10050 repeats,
    not the quantized 10100."""
    from pyspark.sql import functions as F

    from duckdb_ml_spark.operators.sampling import mixture_resample

    df = spark.range(10000).select(F.col("id").alias("doc_id"))
    n = mixture_resample(df, F.lit(1.005)).count()
    assert abs(n - 10050) < 35, n  # binomial sd ≈ 7 at p=.005; old bias +50


def test_semantic_dedup_empty_centroids_raises(spark):
    """ADVICE r7 low: a stride with no selected centroid ids must fail at
    the driver with the cause, not an opaque executor argmax error."""
    import pytest

    from duckdb_ml_spark.operators.dedup import semantic_dedup

    rows = [(i, [float(i), 1.0]) for i in range(1, 5)]  # ids 1..4
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    with pytest.raises(ValueError, match="stride"):
        semantic_dedup(df, stride=1000).collect()


# --- edit-distance verified near-dup pairs ------------------------------------


def test_editdist_verify_blocks_and_distances(spark):
    """Near-identical docs in one (lang, source) block verify with the exact
    Levenshtein distance; identical docs in DIFFERENT blocks are never paired
    (blocking is the contract, not a bug)."""
    from duckdb_ml_spark.operators.dedup import editdist_verify_pairs

    rows = [
        (1, "alpha beta gamma delta", "en", "s1", 22),
        (2, "alpha beta gamma delty", "en", "s1", 22),  # 1 edit from doc 1
        (3, "alpha beta gamma delta", "en", "s2", 22),  # identical, other block
        (4, "totally different text here completely", "en", "s1", 39),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )
    out = {(r.doc_a, r.doc_b): r.editdist for r in editdist_verify_pairs(docs, max_dist=5).collect()}
    assert out == {(1, 2): 1}  # (1,3)/(2,3) blocked out; doc 4 too far


def test_editdist_verify_on_corpus_symmetric_and_bounded(spark, sf_dir):
    """The LSH-fed query form: ordered ids, bounded distances, and every
    emitted pair must ALSO pass the generic direct verifier (the LSH feed
    narrows candidates, never invents pairs)."""
    from duckdb_ml_spark.operators.dedup import (
        EDITDIST_MAX,
        editdist_verify_lsh,
        editdist_verify_pairs,
    )

    out = editdist_verify_lsh(spark, sf_dir).collect()
    assert all(r.doc_a < r.doc_b and 0 <= r.editdist <= EDITDIST_MAX for r in out)
    docs = load(spark, sf_dir, "documents")
    # direct re-verification of each emitted pair, blocking-free
    emitted = {(r.doc_a, r.doc_b): r.editdist for r in out}
    if emitted:
        import itertools

        ids = sorted({i for p in emitted for i in p})
        pfx = {
            r.doc_id: r.pfx
            for r in docs.where(F.col("doc_id").isin(ids))
            .select("doc_id", F.substring("text", 1, 200).alias("pfx"))
            .collect()
        }
        rows = [(a, pfx[a], b, pfx[b]) for (a, b) in emitted]
        chk = spark.createDataFrame(rows, "doc_a bigint, pa string, doc_b bigint, pb string")
        dist = {
            (r.doc_a, r.doc_b): r.d
            for r in chk.select("doc_a", "doc_b", F.levenshtein("pa", "pb").alias("d")).collect()
        }
        assert dist == emitted


# --- group-aware split ---------------------------------------------------------


def test_group_split_no_source_straddles(spark, sf_dir):
    """Every source lands on exactly one side, and the assignment is stable
    under repartitioning (hash of the group key, not of the rows)."""
    from duckdb_ml_spark.operators.sampling import group_split

    docs = load(spark, sf_dir, "documents")
    g = group_split(docs, "source")
    sides = g.groupBy("source").agg(F.countDistinct("split").alias("k"))
    assert sides.where("k != 1").count() == 0
    m1 = {r.source: r.split for r in g.select("source", "split").distinct().collect()}
    g2 = group_split(docs.repartition(13), "source")
    m2 = {r.source: r.split for r in g2.select("source", "split").distinct().collect()}
    assert m1 == m2
    assert g.count() == docs.count()  # exhaustive, no rows dropped


# --- BM25 ----------------------------------------------------------------------


def test_bm25_score_matches_pinned_formula(spark, sf_dir):
    """Every emitted rational pair and score must equal the python
    recomputation from the exact integer components BIT-FOR-BIT (the r9
    integer-rational contract): num/den as exact ints, score as the pinned
    left-fold of num/den divisions — and the rationals must agree with the
    textbook odds-idf BM25 formula to float tolerance (the integerization
    is the SAME statistic, not a different one)."""
    from duckdb_ml_spark.operators.text import BM25_B, BM25_K1, BM25_TERMS, bm25_scores
    from duckdb_ml_spark.operators.textnorm import tokens

    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    per = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[F.sum(F.when(F.col("w") == t, 1).otherwise(0)).alias(f"tf_{t}") for t in BM25_TERMS],
    ).collect()
    n_docs = len(per)
    sum_dl = sum(r.dl for r in per)
    df = {t: sum(1 for r in per if r[f"tf_{t}"] > 0) for t in BM25_TERMS}
    avgdl = sum_dl / n_docs

    def rational(r, t):
        tf = r[f"tf_{t}"]
        num = 22 * sum_dl * tf * (2 * n_docs - 2 * df[t] + 1)
        den = (2 * df[t] + 1) * (10 * tf * sum_dl + 3 * sum_dl + 9 * r.dl * n_docs)
        return num, den

    def score(r):
        s = 0.0
        for t in BM25_TERMS:
            num, den = rational(r, t)
            s = s + num / den
        return s

    def textbook_term(r, t):
        tf = r[f"tf_{t}"]
        idf = (n_docs - df[t] + 0.5) / (df[t] + 0.5)
        return (idf * (tf * (BM25_K1 + 1))) / (
            tf + BM25_K1 * ((1 - BM25_B) + BM25_B * (r.dl / avgdl))
        )

    out = bm25_scores(spark, sf_dir).collect()
    assert out, "corpus must match at least one term"
    expected = {r.doc_id: r for r in per}
    for r in out:
        e = expected[r.doc_id]
        assert r.dl == e.dl
        for t in BM25_TERMS:
            num, den = rational(e, t)
            assert (r[f"num_{t}"], r[f"den_{t}"]) == (num, den)  # exact ints
            # the rational IS the textbook odds-idf term, just cleared
            assert abs(num / den - textbook_term(e, t)) <= 1e-12 * max(
                1.0, abs(textbook_term(e, t))
            )
        assert r.score == score(e)  # exact float equality, not approx
    # only matching docs are emitted
    n_match = sum(1 for r in per if any(r[f"tf_{t}"] > 0 for t in BM25_TERMS))
    assert len(out) == n_match


def test_bm25_rarer_term_scores_higher_at_equal_tf(spark):
    """One doc mentions the rare term once, another the common term once, all
    else equal → the rare-term doc must outrank (idf monotone in rarity)."""
    from duckdb_ml_spark.operators.text import bm25_scores

    # build a tiny corpus as a parquet dir so bm25_scores can load it
    import tempfile

    rows = [(1, "rare pad pad pad", "en", "s1", 16), (2, "common pad pad pad", "en", "s1", 18)]
    rows += [(10 + i, "common filler words here", "en", "s1", 24) for i in range(8)]
    tmp = tempfile.mkdtemp(prefix="bm25_")
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out = {r.doc_id: r.score for r in bm25_scores(spark, tmp, terms=("rare", "common", "pad")).collect()}
    assert out[1] > out[2]


def test_hybrid_rrf_fusion_math_and_shape(spark, sf_dir):
    """The fused output must (a) be exactly RRF_OUT rows in strictly
    rrf-descending (tiebreak doc_id) order, (b) recompute bit-for-bit from
    the two legs' ranks via the pinned 1/(K+r) two-term sum, and (c) rank
    the legs consistently with their own source orderings."""
    from duckdb_ml_spark.operators.similarity import (
        HYBRID_QUERY_ID,
        RRF_K,
        RRF_OUT,
        RRF_POOL,
        hybrid_rrf,
        quantized_topk,
    )
    from duckdb_ml_spark.operators.text import bm25_scores

    out = hybrid_rrf(spark, sf_dir).collect()
    assert len(out) == RRF_OUT
    # recompute leg ranks independently
    lex_rows = sorted(
        ((float(r.score), int(r.doc_id)) for r in bm25_scores(spark, sf_dir).collect()),
        key=lambda t: (-t[0], t[1]),
    )[:RRF_POOL]
    lex_rank = {doc: i + 1 for i, (_, doc) in enumerate(lex_rows)}
    dense_rank = {
        int(r.neighbor_id): int(r.rank)
        for r in quantized_topk(spark, sf_dir, k=RRF_POOL).collect()
        if r.query_id == HYBRID_QUERY_ID
    }
    prev = None
    for r in out:
        want_lex = lex_rank.get(r.doc_id)
        want_dense = dense_rank.get(r.doc_id)
        assert r.lex_rank == want_lex and r.dense_rank == want_dense
        want_rrf = (1.0 / (RRF_K + want_lex) if want_lex else 0.0) + (
            1.0 / (RRF_K + want_dense) if want_dense else 0.0
        )
        assert r.rrf == want_rrf  # exact float equality (pinned expression)
        if prev is not None:
            assert (prev[0], prev[1]) < (-r.rrf, r.doc_id) or prev[0] == -r.rrf
            assert prev[0] <= -r.rrf
        prev = (-r.rrf, r.doc_id)
    # both legs must actually contribute to the fused head
    assert any(r.lex_rank is not None for r in out)
    assert any(r.dense_rank is not None for r in out)


def test_span_dup_fraction_merge_branch_equals_hash_branch(spark, sf_dir, monkeypatch):
    """r9 OOM fix: above SPAN_JOIN_HASH_GATE the span-fraction joins switch
    from pinned-memory SHUFFLE_HASH builds to spillable sort-merge — the
    1024× probe starved the per-(doc,gram) aggregation through the
    unspillable builds. Both branches must be row-identical."""
    from duckdb_ml_spark.operators import dedup

    docs = load(spark, sf_dir, "documents").limit(120)
    a = {tuple(r) for r in dedup.span_dup_fraction(docs).collect()}
    monkeypatch.setattr(dedup, "SPAN_JOIN_HASH_GATE", 0)
    merged = dedup.span_dup_fraction(docs)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan and "ShuffledHashJoin" not in plan
    b = {tuple(r) for r in merged.collect()}
    assert a == b and len(a) == 120


def test_curriculum_anneals_uniform_to_mixture(spark, sf_dir):
    """Epoch 0 must be the uniform pass (w=1, every doc exactly once); the
    final epoch must reproduce sample_mixture_resample's per-source rates is
    too strong (different salts), but its WEIGHTS must equal the mixture
    target; intermediate weights interpolate monotonically."""
    from duckdb_ml_spark.operators.sampling import CUR_EPOCHS, _curriculum_q

    rows = _curriculum_q(spark, sf_dir).collect()
    per_source_docs = {}
    for r in rows:
        if r.epoch == 0:
            # uniform epoch: w == 1 -> count = 1 per doc, no repeats
            assert r.w_x16 == 16 and r.n_rows == r.n_docs
            per_source_docs[r.source] = r.n_docs
    n_total = sum(per_source_docs.values())
    docs = load(spark, sf_dir, "documents")
    assert n_total == docs.count()

    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, {})[r.epoch] = r
    for source, eps in by_source.items():
        assert set(eps) == set(range(CUR_EPOCHS))
        n = int(source[3:]) % 8
        target_x16 = int((0.25 + n * 0.5) * 16)
        assert eps[CUR_EPOCHS - 1].w_x16 == target_x16
        # linear interpolation in exact sixteenths
        w0, wE = 16, target_x16
        for e, r in eps.items():
            assert r.w_x16 == w0 + (e * (wE - w0)) // (CUR_EPOCHS - 1)
            # selected docs never exceed the universe; repeats only when w>1
            assert r.n_docs <= per_source_docs[source]
            assert (r.n_rows >= r.n_docs) == (r.w_x16 >= 16) or r.n_rows == r.n_docs


def test_curriculum_single_scan_plan(spark, sf_dir):
    """r13 columns-not-rows shape: the epoch dimension must be neither a join
    NOR a row explode — per-epoch counts are parallel column aggregates over
    the unexploded corpus (exactly one Exchange, zero Generate nodes), and
    the tiny per-source result is unpivoted with stack()."""
    from duckdb_ml_spark.operators.sampling import _curriculum_q

    plan = _curriculum_q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # no row-multiplying Generate over the CORPUS: the only Generate is the
    # stack() unpivot of the already-aggregated per-source rows
    assert "Generate explode" not in plan and "Generate posexplode" not in plan
    assert "Generate stack" in plan, plan


def test_distinct_sketch_estimates_and_rollup(spark, sf_dir):
    """Raw estimate must be R·n_kept exactly; the rollup row must aggregate
    the per-group rows; the estimate must land near the exact distinct count
    (deterministic data -> a fixed, checked tolerance)."""
    from duckdb_ml_spark.operators.dq import DSKETCH_R, _distinct_sketch_q

    rows = {r.lang: r for r in _distinct_sketch_q(spark, sf_dir).collect()}
    all_row = rows.pop("__ALL__")
    assert all_row.n_rows == sum(r.n_rows for r in rows.values())
    for r in list(rows.values()) + [all_row]:
        assert r.est_distinct == DSKETCH_R * r.n_kept

    docs = load(spark, sf_dir, "documents")
    exact = docs.select("text").distinct().count()
    # threshold sampling rel-err ~ 1/sqrt(n/R); generous fixed bound for the
    # deterministic corpus (checked: sf0.001 and sf0.01 both well inside)
    assert abs(all_row.est_distinct - exact) <= max(0.5 * exact, 4 * DSKETCH_R)


def test_distinct_sketch_filter_precedes_distinct(spark, sf_dir):
    """The scale contract: the h < 2^60/R predicate must sit under the
    distinct aggregation (only sampled hashes shuffle)."""
    from duckdb_ml_spark.operators.dq import _distinct_sketch_q

    plan = _distinct_sketch_q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "expand" in plan.lower() or "rollup" in plan.lower() or "Expand" in plan


def test_countmin_overestimates_and_fixed_state(spark, sf_dir):
    """CM invariants: est >= exact for every audited word; each hash row's
    counters sum to the total token count (every token lands in exactly one
    bucket per row); the counter table never exceeds d x width rows."""
    from duckdb_ml_spark.operators.text import (
        CM_DEPTH,
        CM_WIDTH,
        countmin_counters,
        countmin_topk_audit,
    )
    from duckdb_ml_spark.operators.textnorm import tokens

    rows = countmin_topk_audit(spark, sf_dir).collect()
    assert len(rows) == 20
    assert all(r.n_est >= r.n_exact for r in rows)

    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("w"))
    cm = countmin_counters(toks)
    assert cm.count() <= CM_DEPTH * CM_WIDTH
    n_toks = toks.count()
    sums = {r.r: r.s for r in cm.groupBy("r").agg(F.sum("c").alias("s")).collect()}
    assert sums == {i: n_toks for i in range(CM_DEPTH)}


def test_per_source_k_sample_shape_and_determinism(spark, sf_dir):
    """Exactly min(k, |source|) rows per source with contiguous 1..k ranks;
    repeat runs return the identical membership."""
    from duckdb_ml_spark.operators.sampling import per_source_uniform_k

    docs = load(spark, sf_dir, "documents")
    out1 = per_source_uniform_k(docs, k=7).collect()
    out2 = per_source_uniform_k(docs, k=7).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))

    sizes = {r.source: r.n for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    by_src = {}
    for r in out1:
        by_src.setdefault(r.source, []).append(r.pos)
    for src, poss in by_src.items():
        assert sorted(poss) == list(range(1, min(7, sizes[src]) + 1))
    assert set(by_src) == {s for s, n in sizes.items() if n > 0}


def test_exact_argmax_cosine_bit_identical_to_fold_matrix():
    """The BLAS-prefilter + exact-band-rescore argmax (r11 assign kernel)
    must be BIT-identical to np.argmax over the sequential-fold matrix —
    including exact ties (duplicated rows), sub-eps near-ties (1e-15
    perturbations, where BLAS ordering can differ from fold ordering), and
    non-finite rows (zero vectors -> NaN cosine, numpy's NaN-wins argmax)."""
    import numpy as np

    from duckdb_ml_spark.operators.vec import (
        _seq_cosine_matrix,
        exact_argmax_cosine,
    )

    rng = np.random.default_rng(7)
    A = rng.normal(size=(64, 16))
    B = rng.normal(size=(40, 16))
    B[11] = B[3]  # exact tie: first-max must pick j=3
    B[17] = B[3] * (1 + 1e-15)  # sub-eps near-tie (cosine-equal direction)
    B[23] = 0.0  # zero vector -> NaN column for every row
    A[5] = 0.0  # zero row -> all-NaN row (fallback path)
    A[9] = B[3] * 2.5  # cosine-1 hit with both tie columns in the band
    C = _seq_cosine_matrix(A, B)
    want_idx = np.argmax(C, axis=1)
    got_idx, got_val = exact_argmax_cosine(A, B, row_block=17)
    assert (got_idx == want_idx).all()
    want_val = C[np.arange(len(A)), want_idx]
    # bit-identical, NaN-aware
    assert np.array_equal(got_val, want_val, equal_nan=True)


def test_semantic_dedup_assign_matches_fold_reference(spark, sf_dir):
    """End-to-end: semantic_dedup's bucket assignment (BLAS+band kernel)
    equals the brute-force fold-matrix argmax reference on the real corpus."""
    import numpy as np

    import duckdb_ml_spark.operators.dedup as dd
    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix

    emb = load(spark, sf_dir, "embeddings")
    got = {r.vec_id: r.bucket for r in dd.semantic_dedup(emb).collect()}
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    M = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in rows])
    cmask = ids % dd.SEM_STRIDE == 0
    cids, CM = ids[cmask], M[cmask]
    order = np.argsort(cids)
    cids, CM = cids[order], CM[order]
    ref_idx = np.argmax(_seq_cosine_matrix(M, CM), axis=1)
    ref = {int(i): int(cids[j]) for i, j in zip(ids, ref_idx)}
    assert got == ref


def test_semantic_dedup_oversized_cluster_subdivision(spark, sf_dir, monkeypatch):
    """Force the mega-cluster path (tiny SEM_MAX_CLUSTER): every row still
    appears exactly once, and the subdivided drops are a SUBSET of the exact
    within-cluster drops (subdivision only removes comparisons)."""
    import duckdb_ml_spark.operators.dedup as dd

    emb = load(spark, sf_dir, "embeddings")
    exact = {r.vec_id: r.kept for r in dd.semantic_dedup(emb).collect()}
    monkeypatch.setattr(dd, "SEM_MAX_CLUSTER", 8)
    sub = {r.vec_id: r.kept for r in dd.semantic_dedup(emb).collect()}
    assert set(sub) == set(exact)
    dropped_sub = {k for k, kept in sub.items() if not kept}
    dropped_exact = {k for k, kept in exact.items() if not kept}
    assert dropped_sub <= dropped_exact


def test_exact_tril_any_ge_bit_identical_to_fold_matrix():
    """The BLAS-threshold + eps-band rescore drop rule (r11 prune kernel)
    must be bit-identical to ((fold >= tau) & tril(-1)).any(1), including
    cosine-1 duplicate pairs, sub-eps perturbations, and NaN rows."""
    import numpy as np

    from duckdb_ml_spark.operators.vec import (
        _seq_cosine_matrix,
        exact_tril_any_ge,
    )

    rng = np.random.default_rng(3)
    for tau in (-0.2, 0.4, 0.999999, 1.0):
        M = rng.normal(size=(70, 24))
        M[9] = M[2]
        M[11] = M[2] * (1 + 1e-15)
        M[13] = 0.0
        C = _seq_cosine_matrix(M, M)
        lower = np.tril(np.ones(C.shape, dtype=bool), k=-1)
        want = ((C >= tau) & lower).any(axis=1)
        assert (exact_tril_any_ge(M, tau) == want).all(), tau


def test_documents_doc_id_unique_per_row(spark, sf_dir):
    """ADVICE r11: text_vocab_topk's n_docs branch counts rows containing a
    token via explode(array_distinct(tokens)), which equals the oracle's
    count(DISTINCT doc_id) ONLY if doc_id is unique per row. That holds for
    the generator (stride-shifted unique key) — this pins the row-atomicity
    invariant the plan relies on, so a future duplicated doc_id fails here
    instead of surfacing as a silent overcount."""
    docs = load(spark, sf_dir, "documents")
    assert docs.count() == docs.select("doc_id").distinct().count()


def test_per_source_k_threshold_branch_equals_window(spark, sf_dir, monkeypatch):
    """Force the above-gate threshold-prefilter bottom-k branch (real gate:
    RANK_WINDOW_GATE rows) and require row-identical output to the small-
    corpus window branch — the exactness contract of the r13 rewrite."""
    import duckdb_ml_spark.plans.orderstats as orderstats
    from duckdb_ml_spark.operators.sampling import per_source_uniform_k
    from duckdb_ml_spark.tables import load

    docs = load(spark, sf_dir, "documents")
    small_gate = {r for r in per_source_uniform_k(docs).collect()}
    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 1)
    forced = {r for r in per_source_uniform_k(docs).collect()}
    assert forced == small_gate and len(forced) > 0


def test_per_source_k_null_group_key(spark):
    """A NULL group key must sample like any other group on BOTH branches —
    the threshold branch's literal-map threshold lookup would silently drop
    NULL-keyed rows (map[NULL] → NULL → filter false), so the presence of a
    NULL group forces the window form regardless of size."""
    import duckdb_ml_spark.plans.orderstats as orderstats
    from duckdb_ml_spark.operators.sampling import per_source_uniform_k

    df = spark.createDataFrame(
        [(i, "a" if i % 3 == 0 else None) for i in range(60)],
        "doc_id bigint, source string",
    )
    rows = per_source_uniform_k(df, k=5).collect()
    by_g: dict = {}
    for r in rows:
        by_g.setdefault(r.source, []).append(r.pos)
    assert sorted(by_g.keys(), key=str) == ["a", None] or set(by_g) == {"a", None}
    assert sorted(by_g["a"]) == [1, 2, 3, 4, 5]
    assert sorted(by_g[None]) == [1, 2, 3, 4, 5]


def _memo_held(key):
    """The value the memo holds for `key`, or None. Reads the held entries
    directly, so a peek registers no directory and counts no miss."""
    from duckdb_ml_spark import memo

    d = memo._dir_of(key)
    return memo._DIRS[d][1].get(key) if d in memo._DIRS else None


def test_per_source_k_stale_size_cache_detected(spark, monkeypatch):
    """ADVICE r13 (medium): a dataset reusing a cache_key that gains a NEW
    group must NOT silently drop that group — the threshold branch's map
    lookup would filter every row of a group absent from the cached size
    map. The coalesce keep-all arm surfaces the group in the survivors and
    the function recomputes, so the output covers every group in the data."""
    import duckdb_ml_spark.plans.orderstats as orderstats
    from duckdb_ml_spark.memo import drop
    from duckdb_ml_spark.operators.sampling import per_source_uniform_k

    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 1)  # force threshold path
    key = ("test-stale-psk",)
    skey = (key, "psk_sizes", "source")
    drop(skey)
    df1 = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(200)],
        "doc_id bigint, source string",
    )
    out1 = per_source_uniform_k(df1, k=3, cache_key=key).collect()
    assert {r.source for r in out1} == {"a", "b"}
    assert _memo_held(skey) is not None
    # same cache_key, new group "c" (and more rows in a/b): the stale map
    # has no threshold for "c"
    df2 = spark.createDataFrame(
        [(i, ("a", "b", "c")[i % 3]) for i in range(300)],
        "doc_id bigint, source string",
    )
    out2 = per_source_uniform_k(df2, k=3, cache_key=key).collect()
    by_g: dict = {}
    for r in out2:
        by_g.setdefault(r.source, []).append(r.pos)
    assert set(by_g) == {"a", "b", "c"}
    for g in ("a", "b", "c"):
        assert sorted(by_g[g]) == [1, 2, 3]
    # the cache entry was refreshed to the new data's sizes
    refreshed = _memo_held(skey)
    assert set(refreshed) == {"a", "b", "c"}
    drop(skey)


def test_per_source_k_margin_escalation_distributed(spark, monkeypatch):
    """ADVICE r13 (low): the margin-4096 escalation must rank distributedly
    (no survivor collect). Force escalation by shrinking margin-16's
    threshold via a poisoned size cache (sizes claim groups are much larger
    than reality is impossible — instead sizes match but we shrink k's
    threshold by inflating cached n), then require the exact bottom-k."""
    import duckdb_ml_spark.plans.orderstats as orderstats
    from duckdb_ml_spark.memo import drop, memo
    from duckdb_ml_spark.operators.sampling import per_source_uniform_k

    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 1)
    key = ("test-escalate-psk",)
    skey = (key, "psk_sizes", "source")
    df = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(400)],
        "doc_id bigint, source string",
    )
    # ground truth from the (cache-free) window form
    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 10**9)
    want = sorted(map(tuple, per_source_uniform_k(df, k=4).collect()))
    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 1)
    # inflated cached sizes (same groups, 1000× the rows): margin-16
    # threshold becomes ~16·k/200000 — too tight, escalates to 4096, which
    # at 4096·4/200000 of 2^60 still keeps enough with high probability;
    # if not, the final window fallback still returns the exact answer
    drop(skey)
    memo(spark, skey, lambda: {"a": 200_000, "b": 200_000})
    got = sorted(map(tuple, per_source_uniform_k(df, k=4, cache_key=key).collect()))
    assert got == want
    drop(skey)


def test_per_source_k_grown_group_stale_cache_detected(spark, monkeypatch):
    """ADVICE r14 (medium): a reused cache_key whose corpus grows rows in
    EXISTING groups (no new group) must still produce the exact bottom-k.
    The survivor-overflow detector (survivors > cached group size, which is
    impossible under a fresh map) marks the cache stale and recomputes."""
    import duckdb_ml_spark.plans.orderstats as orderstats
    from duckdb_ml_spark.memo import drop
    from duckdb_ml_spark.operators.sampling import per_source_uniform_k

    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 1)  # force threshold path
    key = ("test-grown-psk",)
    skey = (key, "psk_sizes", "source")
    drop(skey)
    df1 = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(40)],
        "doc_id bigint, source string",
    )
    out1 = per_source_uniform_k(df1, k=3, cache_key=key).collect()
    assert {r.source for r in out1} == {"a", "b"}
    assert _memo_held(skey) == {"a": 20, "b": 20}
    # same cache_key, SAME groups, 10x the rows: cached sizes now lie small
    df2 = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(400)],
        "doc_id bigint, source string",
    )
    got = sorted(map(tuple, per_source_uniform_k(df2, k=3, cache_key=key).collect()))
    monkeypatch.setattr(orderstats, "RANK_WINDOW_GATE", 10**9)
    want = sorted(map(tuple, per_source_uniform_k(df2, k=3).collect()))
    assert got == want
    # and the cache entry was refreshed to the grown sizes
    assert (_memo_held(skey) or {}).get("a") in (None, 200)
    drop(skey)


def test_dedup_session_caches_reset_on_new_session(spark, sf_dir):
    """ADVICE r14 (low): the dedup artifacts (minhash signatures, the
    localCheckpointed editdist prefix table) belong to one session — a
    NEW session must never see them, so a dead session's checkpointed
    prefix DataFrame can never be resurrected for another session."""
    from duckdb_ml_spark import memo
    from duckdb_ml_spark.operators import dedup

    sigs = dedup._collect_signatures(spark, sf_dir)
    assert dedup._collect_signatures(spark, sf_dir) is sigs  # memoized
    pkey = (sf_dir, "editdist_pfx", 32)
    stale = object()
    memo.memo(spark, pkey, lambda: stale)
    other = spark.newSession()
    try:
        # the new session's first lookup builds its own entry ...
        fresh = object()
        assert memo.memo(other, pkey, lambda: fresh) is fresh
        # ... and the first session's entries are gone with it
        assert _memo_held((sf_dir, "minhash_sigs")) is None
        assert _memo_held(pkey) is fresh
    finally:
        memo.reset()  # later tests rebuild under the fixture's session
