"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: the exact baseline. All math in JVM higher-order
  functions (zip_with/aggregate) on doubles — no Python in the loop. Output is
  (query_id, neighbor_id, rank): rank-only, because the two engines' cosine
  differs in final ulps and value-hashing raw cosines would be flaky.

- IVF top-k: the scale path. Coarse "centroids" partition the corpus into
  buckets; a query probes only its nprobe nearest buckets, so the candidate set
  is corpus/|centroids|·nprobe instead of the whole corpus. Here centroids are a
  deterministic sample (vec_id % stride == 0) so the oracle can replicate them;
  on a real 100 TB corpus you'd fit k-means centroids (MLlib KMeans) and
  broadcast them — the plan shape (broadcast centroids → bucket assign →
  per-bucket rerank) is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_ml_spark.memo import derived_dir, memo
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
CENTROID_STRIDE = 25  # vec_id % 25 == 0 → corpus/25 coarse centroids
N_PROBE = 3


def cosine(a: Column, b: Column) -> Column:
    """Sequential-fold cosine in doubles (deterministic order on both engines).

    HOF form — kept as the API for ad-hoc array columns; the operator hot paths
    below use the bit-identical unpacked-column codegen kernels (operators/vec.py).
    """
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    nb = F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v)
    return dot / (F.sqrt(na) * F.sqrt(nb))


def _flat(df: DataFrame, id_alias: str, prefix: str, dim: int, id_col: str = "vec_id") -> DataFrame:
    """(id, {prefix}0..{dim-1}, n{prefix}) — unpacked doubles + squared norm."""
    from duckdb_ml_spark.operators.vec import sqnorm, unpack

    flat = unpack(
        df.select(F.col(id_col).alias(id_alias), "embedding"),
        "embedding", dim, prefix, keep=[id_alias],
    )
    return flat.select("*", sqnorm(prefix, dim).alias(f"n{prefix}"))


def brute_force_topk(
    emb: DataFrame, queries: DataFrame, k: int = TOP_K, id_col: str = "vec_id",
    dim: int | None = None, cache_key=None,
) -> DataFrame:
    """Exact top-k neighbors per query vector (cosine), rank-windowed.

    The corpus streams partition-by-partition against the broadcast query
    matrix (vec.py kernel — sequential-fold, bit-identical to the expression
    form); only (corpus_row, query, cos) scores reach the top-k window. At
    100 TB this is one map-side pass + per-query top-k — no corpus shuffle.
    """
    from duckdb_ml_spark.operators.vec import collect_matrix, cosine_scores_vs_broadcast

    q_ids, Q = collect_matrix(
        queries, id_col, cache_key=(cache_key, "bf_queries")
    )
    scored = cosine_scores_vs_broadcast(emb, q_ids, Q, id_col).select(
        "query_id", F.col("row_id").alias("neighbor_id"), "cos"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )


def _brute_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.operators.vec import embedding_dim

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb, cache_key=sf_dir)
    return brute_force_topk(
        emb, emb.where(F.col("vec_id") < N_QUERIES), dim=dim, cache_key=sf_dir
    )


_BRUTE_ORACLE = f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
    FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
FROM scored
QUALIFY rank <= {TOP_K}
"""


def kmeans_centroids(emb: DataFrame, k: int | None = None, seed: int = 42, id_col: str = "vec_id"):
    """(ids 0..k-1, k×dim centroid matrix) from an MLlib KMeans fit — the real
    IVF coarse quantizer (k ≈ √N by default). The fit runs distributed
    (broadcast centers, map-side assignment per iteration); only the k centroid
    vectors come back to the driver for broadcast. At 100 TB fit on a sample
    (df.sample) — centroid quality needs representativeness, not every row."""
    import numpy as np
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if k is None:
        k = max(2, int(emb.count() ** 0.5))
    vecs = emb.select(array_to_vector(F.col("embedding").cast("array<double>")).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=20, featuresCol="features").fit(vecs)
    CM = np.array(model.clusterCenters(), dtype=np.float64)
    return np.arange(len(CM), dtype=np.int64), CM


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = TOP_K,
    stride: int = CENTROID_STRIDE,
    nprobe: int = N_PROBE,
    id_col: str = "vec_id",
    dim: int | None = None,
    centroids: str = "stride",
    cache_key=None,
) -> DataFrame:
    """IVF approximate top-k: assign corpus to nearest coarse centroid, probe the
    query's nprobe nearest buckets, exact-rerank only those candidates.

    Plan shape (the one that scales): centroids + queries are tiny → their
    probe lists are computed on the driver in NumPy (same sequential-fold
    cosine, same tie-break — bit-identical to the SQL window form). Only the
    corpus-side work is distributed, and it is ONE fused broadcast-kernel scan:
    nearest-centroid assignment, probe-map membership, and candidate scoring
    against the probing queries all happen inside the scan task (no probe
    join, no embedding re-join). The single exchange is the final top-k
    window by query_id. The corpus is never crossJoined or windowed with
    vectors attached."""
    import numpy as np

    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix, collect_matrix

    if centroids == "kmeans":
        # real coarse quantizer (k ≈ √N); "stride" stays the oracle-parity mode
        # (a modulo sample DuckDB can replicate exactly)
        cent_ids, CM = kmeans_centroids(emb, id_col=id_col)
    else:
        cent_ids, CM = collect_matrix(
            emb.where(F.col(id_col) % stride == 0),
            id_col,
            cache_key=(cache_key, "ivf_cent", stride),
        )
        order = np.argsort(cent_ids)  # deterministic c_id ASC tie-break base order
        cent_ids, CM = cent_ids[order], CM[order]

    # query probe lists: nprobe nearest centroids per query — driver NumPy
    q_ids, QM = collect_matrix(
        queries, id_col, cache_key=(cache_key, "ivf_queries")
    )
    qc = _seq_cosine_matrix(QM, CM)
    probe_map: dict = {}  # bucket c_id → [(query_id, query matrix row), ...]
    for qi, qid in enumerate(q_ids):
        # sort by cos DESC then c_id ASC (c_id order pre-sorted, stable sort keeps it)
        top = np.argsort(-qc[qi], kind="stable")[:nprobe]
        for ci in top:
            probe_map.setdefault(int(cent_ids[ci]), []).append((int(qid), qi))

    # FUSED assignment + probe + rerank kernel (r4 job-count pass): one corpus
    # scan computes each vector's nearest centroid (np.argmax first-max ==
    # cos DESC, c_id ASC tie-break on the ascending-sorted centroid ids),
    # looks its bucket up in the broadcast probe map, and scores it against
    # exactly the queries probing that bucket — the corpus×centroid score
    # stream, the probe join, and the embedding re-join all stay inside the
    # scan task. Identical candidates and bit-identical cosines to the
    # compositional assign→join→join→rerank form (same sequential fold); the
    # only exchange left is the top-k window by query_id.
    import pandas as pd

    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(emb.sparkSession)
    bc = emb.sparkSession.sparkContext.broadcast((cent_ids, CM, q_ids, QM, probe_map))

    def gen(batches):
        cids_b, CMb, qids_b, QMb, pmap = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids_a = pdf[id_col].to_numpy()
            # r11: BLAS-banded exact argmax (bit-identical to the fold
            # matrix argmax — vec.exact_argmax_cosine)
            from duckdb_ml_spark.operators.vec import exact_argmax_cosine

            buckets = cids_b[exact_argmax_cosine(A, CMb)[0]]
            out_q, out_n, out_c = [], [], []
            for bucket in np.unique(buckets):
                plist = pmap.get(int(bucket))
                if not plist:
                    continue
                mask = buckets == bucket
                Am, idsm = A[mask], ids_a[mask]
                for qid, qi in plist:
                    cos = _seq_cosine_matrix(Am, QMb[qi : qi + 1])[:, 0]
                    keep = idsm != qid
                    out_q.extend([qid] * int(keep.sum()))
                    out_n.extend(idsm[keep].tolist())
                    out_c.extend(cos[keep].tolist())
            yield pd.DataFrame({"query_id": out_q, "row_id": out_n, "cos": out_c})

    rer = emb.select(id_col, "embedding").mapInPandas(
        gen, "query_id bigint, row_id bigint, cos double"
    )
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("row_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("row_id").alias("neighbor_id"), "rank")
    )


def _ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.operators.vec import embedding_dim

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb, cache_key=sf_dir)
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < N_QUERIES), dim=dim, cache_key=sf_dir
    )


_IVF_ORACLE = f"""
WITH cent AS (
    SELECT vec_id AS c_id, embedding FROM embeddings WHERE vec_id % {CENTROID_STRIDE} = 0
),
assigned AS (
    SELECT e.vec_id AS neighbor_id, e.embedding AS ce, c.c_id AS bucket,
           row_number() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.c_id ASC
           ) AS rn
    FROM embeddings e, cent c
    QUALIFY rn = 1
),
probes AS (
    SELECT q.vec_id AS query_id, q.embedding AS qe, c.c_id AS bucket,
           row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.c_id ASC
           ) AS rn
    FROM embeddings q, cent c
    WHERE q.vec_id < {N_QUERIES}
    QUALIFY rn <= {N_PROBE}
)
SELECT query_id, neighbor_id,
       row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]) DESC, neighbor_id ASC
       ) AS rank
FROM assigned JOIN probes USING (bucket)
WHERE query_id != neighbor_id
QUALIFY rank <= {TOP_K}
"""


def normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector L2 norm + symmetric int8 quantization (q_i = round(e_i *
    127/max|e|)) — the storage transform an ANN index applies before writing
    a 4x-smaller codebook. round() is spelled floor(x + 0.5): both engines'
    round() disagree on half-way ties, floor arithmetic is IEEE-identical.

    Implementation is an Arrow mapInArrow kernel, chosen from measurement: the
    column-expression form needs a single 64-term nested fold for the norm
    (unsplittable by codegen's method-size splitter), so whole-stage codegen
    bails and the ~320-node expression tree evaluates interpreted per row
    (0.56 s for 5k rows). The NumPy kernel does the identical math batched
    (<0.1 s), keeping exact float parity with the SQL oracle: per-dimension
    left-fold accumulation in float64 (same order as the SQL chain), max is
    order-insensitive, floor/multiply are single IEEE ops. No shuffle; linear
    and partition-parallel at any corpus size."""
    from duckdb_ml_spark.operators.vec import embedding_dim
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb, cache_key=sf_dir)

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            vec_id = batch.column("vec_id")
            lst = batch.column("embedding")
            if isinstance(lst, pa.ChunkedArray):
                lst = lst.combine_chunks()
            m = np.asarray(lst.flatten(), dtype=np.float32).reshape(n, -1).astype(np.float64)
            acc = np.zeros(n, dtype=np.float64)
            for i in range(m.shape[1]):  # left-fold: matches the SQL sum chain
                acc = acc + m[:, i] * m[:, i]
            l2 = np.sqrt(acc)
            mx = np.abs(m).max(axis=1)
            ok = mx != 0.0
            scale = np.divide(127.0, mx, out=np.full(n, np.nan), where=ok)
            q = np.floor(m * scale[:, None] + 0.5)
            valid_flat = np.repeat(ok, m.shape[1])
            q_vals = pa.array(
                np.where(valid_flat, q.ravel(), 0).astype(np.int32),
                mask=~valid_flat,
            )
            offsets = pa.array(np.arange(0, (n + 1) * m.shape[1], m.shape[1], dtype=np.int32))
            yield pa.RecordBatch.from_arrays(
                [
                    vec_id,
                    pa.array(l2),
                    pa.array(np.where(ok, scale, 0.0), mask=~ok),
                    pa.ListArray.from_arrays(offsets, q_vals),
                ],
                names=["vec_id", "l2_norm", "q_scale", "q_int8"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        _kernel, "vec_id long, l2_norm double, q_scale double, q_int8 array<int>"
    )


def _normalize_quantize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form: the int8 code vector is serialized to a canonical
    '[c0,c1,...]' string. The harness canonicalizes result frames with pandas
    sort_values, which cannot order array columns (unhashable lists) — the one
    red row in CORRECTNESS_r02. The codes are unchanged, just JSON-ish text;
    `normalize_quantize` keeps the typed array output for in-engine consumers
    (quantized_topk reads it directly)."""
    out = normalize_quantize(spark, sf_dir)
    codes = F.concat(
        F.lit("["), F.array_join(F.col("q_int8").cast("array<string>"), ","), F.lit("]")
    )
    return out.select("vec_id", "l2_norm", "q_scale", codes.alias("q_int8"))


def _normalize_quantize_oracle(dim: int = 64) -> str:
    e = [f"embedding[{i + 1}]::DOUBLE" for i in range(dim)]
    sq = " + ".join(f"{x} * {x}" for x in e)
    mx = ", ".join(f"abs({x})" for x in e)
    qs = ", ".join(f"floor({x} * s + 0.5)::INT" for x in e)
    return f"""
    WITH base AS (
        SELECT vec_id, embedding,
               127.0 / nullif(greatest({mx}), 0.0) AS s
        FROM embeddings
    )
    SELECT vec_id,
           sqrt(0.0 + {sq}) AS l2_norm,
           s AS q_scale,
           CASE WHEN s IS NULL THEN NULL
                ELSE '[' || array_to_string(list_value({qs}), ',') || ']'
           END AS q_int8
    FROM base
    """


KNN_K = 3


def knn_join(
    spark: SparkSession,
    sf_dir: str,
    k: int = KNN_K,
    nbits: int = 16,
    band_bits: int = 4,
) -> DataFrame:
    """Approximate k-NN JOIN: top-k cosine neighbors for EVERY corpus vector,
    candidates bounded by banded hyperplane LSH (vs brute force's N²). The
    all-corpus twin of the fixed-query top-k searches — the operator behind
    "find the nearest neighbor of every training example" dedup/curation
    passes.

    Two strategies by corpus size (the verify_pairs_cosine pattern):

    - corpus ≤ 65 536 rows: ONE masked broadcast kernel — driver-side
      signatures from the cached corpus matrix, each streaming partition
      band-matches its rows against the broadcast signature table, folds
      cosine where the mask fires, and ranks its own top-k in the kernel
      (cos DESC, id ASC — numpy lexsort, same tie-break as the window).
      Replaces: signature job → 474k-pair self-join → distinct → mirror →
      Python rescoring → rank-window shuffle+sort.
    - larger: banded candidate pairs (bucket self-join, undirected) →
      mirror-by-explode → exact cosine vs the gated scorer → rank window.
      The 4-bit-band default is the oracle-parity benchmark point; at scale
      use 8-bit bands (same plan, ~16x fewer random collisions)."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.dedup import (
        _cached_count,
        _hyperplanes,
        embedding_lsh_candidates,
        embedding_lsh_signatures,
    )
    from duckdb_ml_spark.operators.vec import score_id_pairs_cosine

    emb = load(spark, sf_dir, "embeddings")
    if _cached_count(emb, sf_dir) <= 65536:
        from duckdb_ml_spark.operators.vec import _seq_cosine_matrix, collect_matrix
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
            bands_b = np.stack(
                [(sigs_b >> (b * band_bits)) & mask_v for b in range(n_bands)]
            )
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                A = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                ids_a = pdf["vec_id"].to_numpy()
                pa = np.zeros((len(A), nbits))
                for i in range(A.shape[1]):
                    pa += np.multiply.outer(A[:, i], H[:, i])
                sig_a = ((pa > 0) @ weights).astype(np.int64)
                hit = np.zeros((len(A), len(ids_b)), dtype=bool)
                for b in range(n_bands):
                    hit |= np.equal.outer((sig_a >> (b * band_bits)) & mask_v, bands_b[b])
                hit &= np.not_equal.outer(ids_a, ids_b)
                # r11: exact fold cosine ONLY at hit positions (the full
                # n x m fold matrix was computed then read at the sparse
                # LSH-hit cells — _seq_cosine_pairs replays the identical
                # per-pair FP sequence, so values are bit-unchanged)
                from duckdb_ml_spark.operators.vec import _seq_cosine_pairs

                I, J = np.nonzero(hit)
                s = _seq_cosine_pairs(A, Mb, I, J)
                starts = np.searchsorted(I, np.arange(len(A)))
                ends = np.append(starts[1:], len(I))
                out_v, out_n, out_r = [], [], []
                for r in range(len(A)):
                    seg = slice(starts[r], ends[r])
                    if seg.start == seg.stop:
                        continue
                    cidx, cs = J[seg], s[seg]
                    # cos DESC, neighbor_id ASC — lexsort is stable, last key primary
                    top = cidx[np.lexsort((ids_b[cidx], -cs))][:k]
                    out_v.extend([ids_a[r]] * len(top))
                    out_n.extend(ids_b[top])
                    out_r.extend(range(1, len(top) + 1))
                yield pd.DataFrame(
                    {
                        "vec_id": np.array(out_v, dtype=np.int64),
                        "neighbor_id": np.array(out_n, dtype=np.int64),
                        "rank": np.array(out_r, dtype=np.int32),
                    }
                )

        par = max(8, spark.sparkContext.defaultParallelism // 2)
        return (
            emb.select("vec_id", "embedding")
            .repartition(par)
            .mapInPandas(gen, "vec_id bigint, neighbor_id bigint, rank int")
        )

    sig = embedding_lsh_signatures(spark, sf_dir, nbits=nbits)
    und = embedding_lsh_candidates(sig, nbits=nbits, band_bits=band_bits)
    # score each UNDIRECTED pair once, mirror the scored rows after: cosine is
    # symmetric bit-for-bit (commutative multiplies inside the same fold), so
    # this halves the kernel and pair-stream work vs mirroring before scoring.
    # Mirror via EXPLODE, not a self-union — a union would reference the
    # kernel subplan from two branches and (with no exchange boundary to
    # reuse) execute the whole candidate+scoring pipeline twice
    scored_und = score_id_pairs_cosine(und, emb, cache_key=sf_dir)
    scored = scored_und.select(
        F.explode(
            F.array(
                F.struct(F.col("vec_a"), F.col("vec_b")),
                F.struct(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b")),
            )
        ).alias("p"),
        "cos",
    ).select("p.vec_a", "p.vec_b", "cos")
    w = Window.partitionBy("vec_a").orderBy(F.desc("cos"), F.asc("vec_b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("vec_a").alias("vec_id"),
            F.col("vec_b").alias("neighbor_id"),
            "rank",
        )
    )


def _knn_join_oracle(k: int = KNN_K, nbits: int = 16, band_bits: int = 4) -> str:
    from duckdb_ml_spark.operators.dedup import _embedding_lsh_sig_oracle

    n_bands = nbits // band_bits
    mask = (1 << band_bits) - 1
    band_rows = "\nUNION ALL\n".join(
        f"SELECT vec_id, {b} AS band, (sig >> {b * band_bits}) & {mask} AS bv FROM sig"
        for b in range(n_bands)
    )
    return f"""
    WITH sig AS ({_embedding_lsh_sig_oracle(nbits=nbits)}),
    bands AS ({band_rows}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bv = b.bv AND a.vec_id != b.vec_id
    )
    SELECT vec_a AS vec_id, vec_b AS neighbor_id,
           row_number() OVER (
               PARTITION BY vec_a
               ORDER BY list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) DESC,
                        vec_b ASC
           ) AS rank
    FROM cand
    JOIN embeddings ea ON ea.vec_id = vec_a
    JOIN embeddings eb ON eb.vec_id = vec_b
    QUALIFY rank <= {k}
    """


def quantized_topk(spark: SparkSession, sf_dir: str, k: int = TOP_K) -> DataFrame:
    """Asymmetric quantized top-k: float64 queries scored against the INT8
    corpus codes from normalize_quantize — the serving path of a quantized ANN
    index (4× less corpus I/O; only codes + 2 floats per vector are read).

    approx_cos(q, c) = ((Σᵢ code_cᵢ·qᵢ) / s_c) / (l2_c · l2_q): the integer
    code dot is exact in float64 (|code|≤127, dim 64 ⇒ ≪ 2⁵³), the scale and
    norm divisions are single IEEE ops, and the dim fold is sequential — so the
    score is BIT-IDENTICAL to the SQL oracle's expression chain and the rank
    window needs no tolerance. Plan: corpus codes stream partition-parallel
    against the broadcast query matrix (no shuffle); only (query, neighbor,
    score) rows reach the per-query top-k window. At 100 TB: identical shape —
    codes live in the index files, queries broadcast."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.vec import collect_matrix
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    emb = load(spark, sf_dir, "embeddings")
    q_ids, Q = collect_matrix(
        emb.where(F.col("vec_id") < N_QUERIES), "vec_id", cache_key=(sf_dir, "bf_queries")
    )
    # query-side L2 in the same left-fold order as the SQL sum chain
    l2q = np.zeros(Q.shape[0])
    for i in range(Q.shape[1]):
        l2q = l2q + Q[:, i] * Q[:, i]
    l2q = np.sqrt(l2q)
    bc = spark.sparkContext.broadcast((q_ids, Q, l2q))

    codes = normalize_quantize(spark, sf_dir)  # vec_id, l2_norm, q_scale, q_int8

    def score(batches):
        ids_q, Qb, l2qb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf["q_int8"].to_numpy()).astype(np.float64)  # exact: |code| ≤ 127
            n, m = len(pdf), Qb.shape[0]
            acc = np.zeros((n, m))
            for i in range(C.shape[1]):  # sequential fold (oracle parity)
                acc += np.multiply.outer(C[:, i], Qb[:, i])
            s = pdf["q_scale"].to_numpy()
            l2c = pdf["l2_norm"].to_numpy()
            qcos = (acc / s[:, None]) / np.multiply.outer(l2c, l2qb)
            ids_c = pdf["vec_id"].to_numpy()
            out = pd.DataFrame(
                {
                    "query_id": np.tile(ids_q, n),
                    "neighbor_id": np.repeat(ids_c, m),
                    "qcos": qcos.ravel(),
                }
            )
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = codes.mapInPandas(score, "query_id bigint, neighbor_id bigint, qcos double")
    w = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.round("qcos", 6).alias("qcos"), "rank")
    )


def _quantized_topk_oracle(dim: int = 64, k: int = TOP_K) -> str:
    e = [f"embedding[{i + 1}]::DOUBLE" for i in range(dim)]
    mx = ", ".join(f"abs({x})" for x in e)
    sq = " + ".join(f"{x} * {x}" for x in e)
    dot = " + ".join(
        f"floor(c.embedding[{i + 1}]::DOUBLE * c.s + 0.5) * q.embedding[{i + 1}]::DOUBLE"
        for i in range(dim)
    )
    return f"""
    WITH c AS (
        SELECT vec_id, embedding,
               127.0 / nullif(greatest({mx}), 0.0) AS s,
               sqrt(0.0 + {sq}) AS l2
        FROM embeddings
    ),
    q AS (
        SELECT vec_id, embedding, sqrt(0.0 + {sq}) AS l2
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ((0.0 + {dot}) / c.s) / (c.l2 * q.l2) AS qcos
        FROM c JOIN q ON c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, round(qcos, 6) AS qcos,
           row_number() OVER (PARTITION BY query_id ORDER BY qcos DESC, neighbor_id ASC) AS rank
    FROM scored
    QUALIFY rank <= {k}
    """


# --- hybrid retrieval: reciprocal-rank fusion (lexical BM25 × dense ANN) ------

RRF_K = 60  # the standard RRF smoothing constant (Cormack et al.)
RRF_POOL = 100  # per-leg candidate depth fed into the fusion
RRF_OUT = 20
HYBRID_QUERY_ID = 0  # the query document/vector (vec_id == doc_id by data design)


def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal-Rank Fusion: fuse the LEXICAL ranking
    (BM25 keyword relevance over `documents`) with the DENSE ranking
    (quantized-cosine ANN over `embeddings`; vec_id ≡ doc_id) as
    rrf = Σ_leg 1/(RRF_K + rank_leg) over each leg's top-RRF_POOL — the
    standard first-stage retriever of a topic-targeted data-mining pipeline
    (keyword recall + semantic recall, neither alone sufficient).

    Determinism by construction (the r9 contract): both legs contribute
    RANKS, never raw scores — the BM25 ordering keys are bit-identical
    cross-engine (exact int64 rationals → pinned doubles) and the dense leg
    reuses quantized_topk's pinned qcos expression chain; the fused score is
    a pinned two-term sum of exact IEEE divisions of small ints, so it
    hashes raw. Docs missing from a leg contribute 0 from that leg (their
    rank column stays NULL in the output — standard RRF semantics).

    Scale shape: each leg ends in a top-RRF_POOL (the lexical leg a global
    TakeOrderedAndProject, the dense leg quantized_topk's per-query window);
    the fusion then joins two ≤RRF_POOL-row relations — broadcast-trivial at
    any corpus size. Ranking *within* the pooled 100 rows uses a single-
    partition window over exactly 100 rows, which is the point of pooling:
    the corpus-sized work is the per-leg scoring scan, never the fusion."""
    from duckdb_ml_spark.operators.text import bm25_scores

    dense = (
        quantized_topk(spark, sf_dir, k=RRF_POOL)
        .where(F.col("query_id") == HYBRID_QUERY_ID)
        .select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("dense_rank"))
    )
    lex_pool = (
        bm25_scores(spark, sf_dir)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(RRF_POOL)
    )
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex = lex_pool.withColumn("lex_rank", F.row_number().over(wl)).select(
        "doc_id", "lex_rank"
    )
    fused = lex.join(dense, "doc_id", "full_outer")
    one = F.lit(1.0)
    rrf = F.coalesce(
        one / (F.lit(RRF_K) + F.col("lex_rank")).cast("double"), F.lit(0.0)
    ) + F.coalesce(
        one / (F.lit(RRF_K) + F.col("dense_rank")).cast("double"), F.lit(0.0)
    )
    return (
        fused.select("doc_id", "lex_rank", "dense_rank", rrf.alias("rrf"))
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(RRF_OUT)
    )


def _hybrid_rrf_oracle() -> str:
    """Oracle twin: the BM25 and quantized-cosine oracles as subqueries, the
    same top-RRF_POOL per leg, the same pinned fusion expression with
    explicit ::DOUBLE casts (no bare DECIMAL literal)."""
    from duckdb_ml_spark.operators.text import _bm25_oracle

    return f"""
WITH lex AS (
    SELECT doc_id,
           row_number() OVER (ORDER BY score DESC, doc_id ASC) AS lex_rank
    FROM ({_bm25_oracle()}) b
    QUALIFY lex_rank <= {RRF_POOL}
),
dense AS (
    SELECT neighbor_id AS doc_id, rank AS dense_rank
    FROM ({_quantized_topk_oracle(k=RRF_POOL)}) d
    WHERE query_id = {HYBRID_QUERY_ID}
)
SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id, l.lex_rank, d.dense_rank,
       (COALESCE(1::DOUBLE / (({RRF_K} + l.lex_rank))::DOUBLE, 0::DOUBLE)
        + COALESCE(1::DOUBLE / (({RRF_K} + d.dense_rank))::DOUBLE, 0::DOUBLE)) AS rrf
FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
ORDER BY rrf DESC, doc_id ASC
LIMIT {RRF_OUT}
"""


# --- persistent IVF index (build once, query many) ---------------------------


def build_ivf_index(spark: SparkSession, sf_dir: str, stride: int = CENTROID_STRIDE) -> str:
    """Persist the IVF index as tables and return its directory: `centroids`
    parquet (c_id, embedding) + `assign` parquet PARTITIONED BY bucket. This
    is the serving shape every ANN system uses — the corpus-scale assignment
    pass runs ONCE per embeddings content (a `derived_dir`); a query then
    touches only its probed buckets' partitions (directory pruning, asserted
    in tests)."""
    import os

    import numpy as np

    from duckdb_ml_spark.operators.vec import assign_nearest_vs_broadcast, collect_matrix

    def write(path):
        emb = load(spark, sf_dir, "embeddings")
        cent_ids, CM = collect_matrix(
            emb.where(F.col("vec_id") % stride == 0), "vec_id",
            cache_key=(sf_dir, "ivf_cent", stride),
        )
        order = np.argsort(cent_ids)
        cent_ids, CM = cent_ids[order], CM[order]
        assigned = assign_nearest_vs_broadcast(emb, cent_ids, CM, "vec_id")
        assigned.write.partitionBy("bucket").parquet(os.path.join(path, "assign"))
        cdf = spark.createDataFrame(
            [(int(c), [float(x) for x in CM[i]]) for i, c in enumerate(cent_ids)],
            "c_id bigint, embedding array<double>",
        )
        cdf.write.parquet(os.path.join(path, "centroids"))

    return derived_dir(sf_dir, ["embeddings"], "ivf_index", write, params=f"stride{stride}")


def ivf_topk_from_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    queries: DataFrame,
    k: int = TOP_K,
    nprobe: int = N_PROBE,
) -> DataFrame:
    """Query the PERSISTED index: probe lists computed on the driver from the
    stored centroid table (same argsort/tie-break as ivf_topk — bit-identical
    results), the stored assignment table read with a bucket filter that
    prunes to the probed partitions, candidates gathered + reranked against
    their own query vector. No assignment pass, no full-index scan."""
    import os

    import numpy as np

    from duckdb_ml_spark.operators.vec import (
        _seq_cosine_matrix,
        collect_matrix,
        cosine_to_assigned_query,
    )

    # a serving process holds the index open: centroid matrix + the assign
    # table's file listing are loaded once per (session, sf_dir, path), not
    # per query
    def open_index():
        crows = spark.read.parquet(os.path.join(path, "centroids")).collect()
        crows.sort(key=lambda r: r.c_id)
        return (
            np.array([r.c_id for r in crows], dtype=np.int64),
            np.array([r.embedding for r in crows], dtype=np.float64),
            spark.read.parquet(os.path.join(path, "assign")),
        )

    cent_ids, CM, assign_df = memo(spark, (sf_dir, "ivf_index", path), open_index)
    q_ids, QM = collect_matrix(
        queries, "vec_id", cache_key=(sf_dir, "ivf_queries")
    )
    qc = _seq_cosine_matrix(QM, CM)
    probe_rows = []
    for qi, qid in enumerate(q_ids):
        top = np.argsort(-qc[qi], kind="stable")[:nprobe]
        probe_rows.extend((int(qid), int(cent_ids[ci])) for ci in top)
    probes = spark.createDataFrame(probe_rows, "query_id bigint, bucket bigint")
    buckets = sorted({b for _, b in probe_rows})

    assign = assign_df.where(F.col("bucket").isin(buckets))  # partition-pruned scan
    emb = load(spark, sf_dir, "embeddings")
    cand = (
        assign.join(F.broadcast(probes), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .join(emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"), "neighbor_id")
    )
    rer = cosine_to_assigned_query(cand, q_ids, QM, "query_id", "neighbor_id")
    w_rank = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("row_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w_rank))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("row_id").alias("neighbor_id"), "rank")
    )


def _ivf_index_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = build_ivf_index(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk_from_index(
        spark, sf_dir, path, emb.where(F.col("vec_id") < N_QUERIES)
    )


# --- sparse (TF-IDF) similarity ---------------------------------------------


def tfidf_weights(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, term, w) sparse TF-IDF vectors: w = tf · ln(N / df).

    Three aggregations, all term- or doc-colocated: tf (one explode+groupBy,
    the same shuffle word_counts pays), df (groupBy over the already-distinct
    (doc, term) pairs), and the scalar N broadcast via a 1-row cross join.
    At 100 TB this is the inverted-index build — the df table is
    vocabulary-sized and broadcasts; nothing carries documents."""
    from duckdb_ml_spark.operators.textnorm import tokens

    tok = docs.select(id_col, F.explode(tokens(F.col(text_col))).alias("term")).where(
        F.col("term") != ""
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(nd))
        .select(id_col, "term", (F.col("tf") * F.log(F.col("__n") / F.col("df"))).alias("w"))
    )


# Materialized TF-IDF inverted index per (session, sf_dir) — the weight
# relation is consumed by BOTH join legs and its df-broadcast subplan, which
# would otherwise re-execute the explode+groupBy lineage three times per run
# (measured: 1.9 → 0.5 s exec). At 100 TB the inverted index is a maintained
# table, exactly like corpus_shingles / the signature table.
def _tfidf_weights_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return memo(spark, (sf_dir, "tfidf"), lambda: tfidf_weights(
        load(spark, sf_dir, "documents")).localCheckpoint(eager=True))


def _tfidf_rescore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rescore MinHash-LSH candidate pairs with exact sparse TF-IDF cosine —
    the candidate-generate→exact-rescore composition every similarity pipeline
    runs, with a SECOND metric family (term-weighted sparse vectors) against
    the signatures that proposed the pair. Candidates are LSH-bounded, so the
    pair side always broadcasts; the weight relation joins term-colocated.
    Score is a rounded aggregate (summation-order discipline per NOTES)."""
    from duckdb_ml_spark.operators.dedup import _minhash_lsh_pairs_q

    cand = _minhash_lsh_pairs_q(spark, sf_dir).select("doc_a", "doc_b")
    w = _tfidf_weights_cached(spark, sf_dir)
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    wa = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("__wa"))
    wb = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("__wb"))
    dots = (
        wa.join(F.broadcast(cand), "doc_a")
        .join(wb, ["doc_b", "term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("__wa") * F.col("__wb")).alias("__dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("nrm").alias("__na"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("nrm").alias("__nb"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6).alias("tfidf_cos"),
        )
    )


def _tfidf_rescore_oracle() -> str:
    from duckdb_ml_spark.operators.dedup import _minhash_lsh_oracle
    from duckdb_ml_spark.operators.textnorm import tokens_sql

    # MATERIALIZED is load-bearing: w/nrm are referenced 2× each and nrm
    # contains w which contains the minhash candidate chain — default CTE
    # inlining re-evaluates the whole upstream per reference (measured 142.7 s
    # at sf0.1; materialized 0.57 s).
    return f"""
    WITH cand0 AS MATERIALIZED ({_minhash_lsh_oracle()}),
    cand AS MATERIALIZED (SELECT doc_a, doc_b FROM cand0),
    tok AS (SELECT doc_id, unnest({tokens_sql("text")}) AS term FROM documents),
    tf AS MATERIALIZED (SELECT doc_id, term, count(*) AS tf FROM tok WHERE term != '' GROUP BY 1, 2),
    dfq AS MATERIALIZED (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT count(*)::DOUBLE AS n FROM documents),
    w AS MATERIALIZED (SELECT doc_id, term, tf * ln(n / df) AS w
          FROM tf JOIN dfq USING (term) CROSS JOIN nd),
    nrm AS MATERIALIZED (SELECT doc_id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1)
    SELECT c.doc_a, c.doc_b,
           round(sum(wa.w * wb.w) / (max(na.nrm) * max(nb.nrm)), 6) AS tfidf_cos
    FROM cand c
    JOIN w wa ON wa.doc_id = c.doc_a
    JOIN w wb ON wb.doc_id = c.doc_b AND wb.term = wa.term
    JOIN nrm na ON na.doc_id = c.doc_a
    JOIN nrm nb ON nb.doc_id = c.doc_b
    GROUP BY c.doc_a, c.doc_b
    """


QUERIES: dict[str, QuerySpec] = {
    "sim_tfidf_rescore": QuerySpec(
        name="sim_tfidf_rescore",
        builder=_tfidf_rescore_q,
        oracle=_tfidf_rescore_oracle(),
        doc="Exact sparse TF-IDF cosine rescoring of MinHash-LSH candidate pairs "
        "(generate→rescore with a second metric family).",
        tags=("similarity", "text", "tfidf"),
    ),
    "sim_quantized_topk": QuerySpec(
        name="sim_quantized_topk",
        builder=quantized_topk,
        oracle=_quantized_topk_oracle(),
        doc="Asymmetric int8-quantized top-5 (float queries vs corpus codes — ANN serving path).",
        tags=("similarity", "ann", "quantize"),
    ),
    "sim_hybrid_rrf": QuerySpec(
        name="sim_hybrid_rrf",
        builder=hybrid_rrf,
        oracle=_hybrid_rrf_oracle(),
        doc="Hybrid retrieval: BM25 lexical × quantized-cosine dense legs "
        "fused by reciprocal-rank (top-20; rank-only legs, pinned fusion).",
        tags=("similarity", "retrieval", "hybrid", "rrf"),
    ),
    "sim_knn_join": QuerySpec(
        name="sim_knn_join",
        builder=knn_join,
        oracle=_knn_join_oracle(),
        doc="LSH-bounded approximate k-NN join: top-3 neighbors for every vector.",
        tags=("similarity", "ann", "knn"),
    ),
    "emb_normalize_quantize": QuerySpec(
        name="emb_normalize_quantize",
        builder=_normalize_quantize_q,
        oracle=_normalize_quantize_oracle(),
        doc="L2 norm + symmetric int8 quantization per embedding (ANN storage path).",
        tags=("similarity", "vector", "quantize"),
    ),
    "sim_topk_bruteforce": QuerySpec(
        name="sim_topk_bruteforce",
        builder=_brute_topk_q,
        oracle=_BRUTE_ORACLE,
        doc="Exact cosine top-5 neighbors for 10 query vectors (rank output).",
        tags=("similarity", "ann"),
    ),
    "sim_topk_ivf": QuerySpec(
        name="sim_topk_ivf",
        builder=_ivf_topk_q,
        oracle=_IVF_ORACLE,
        doc="IVF-bucketed approximate top-5 (probe 3 of N/25 coarse buckets).",
        tags=("similarity", "ann", "ivf"),
    ),
    "sim_topk_ivf_index": QuerySpec(
        name="sim_topk_ivf_index",
        builder=_ivf_index_q,
        oracle=_IVF_ORACLE,  # identical contract: the persisted index must
        # answer exactly like a fresh build
        doc="Persistent IVF index: build-once (partitioned assignment table + "
        "centroid table) then probe-pruned query — same results as sim_topk_ivf.",
        tags=("similarity", "ann", "ivf", "index"),
    ),
}
