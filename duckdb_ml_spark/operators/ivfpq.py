"""IVF-PQ composed ANN over cluster-structured vectors (VERDICT r4 item 6).

The missing composition: IVF coarse pruning × PQ ADC scoring. It could not
ship honestly against the raw synthetic embeddings — they are near-isotropic,
so probing nprobe≪C coarse cells misses true neighbors (measured recall
0.0–0.2 at nprobe 2–4 in r3/r4). The r5 resolution, as prescribed: derive a
CLUSTER-STRUCTURED embedding column deterministically from the corpus, prove
honest recall on it, and hash-check the contract with the recall-band oracle
pattern (`sim_pq_recall_band`).

Derived vectors: demb = center(vec_id % C) + β·emb, where center(c)[i] =
(((c·31 + i·17) mod 13) − 6) / 6 — pure integer arithmetic + one multiply-add
per element, bit-identical in NumPy float64 and DuckDB SQL (the oracle builds
the same table via unnest/generate_subscripts + list(... ORDER BY ord)).
β = 1.0 adds the center to the raw vector; with nprobe = 3 of C = 16 the
bucket-coverage recall of the exact top-5 is 1.0 (min over queries) at
sf0.01 AND sf0.1 — the honest-recall regime the composition needs.

PQ encodes the RESIDUAL x − centroid(bucket) (the Jégou et al. IVFADC
design), not the raw vector: same-cluster candidates share the dominant
center component, so raw-vector codewords waste their resolution re-encoding
it and ADC error swamps the thin within-cluster score gaps (measured: flat
PQ at m=16 gives min recall 0.2 at sf0.1; residual PQ at m=32 gives min
recall 1.0 at both sfs — the full β×m sweep is in the r5 notes). ADC adds
the exact dot(query, centroid_b) term per bucket to the residual LUT sum.
The full IVF-PQ recall (after the ADC shortlist) is the thing the query
flags: `ivfpq_recall_ok` turns the driver row red below 0.8 (measured 1.0).

Architecture (what a 100 TB deployment stores and scans):
  index build  — coarse quantizer: MLlib k-means (k = C) on the derived
                 corpus; PQ codebooks on a bounded, id-sorted sample; a CODE
                 TABLE (vec_id, bucket, l2, codes m×int8-sized) — the only
                 relation the serving scan reads (~17 bytes/vec vs 256).
  serving      — probe lists driver-side (queries × C centroids, tiny);
                 bucket-PRUNED code-table scan (`bucket isin probes` reaches
                 the scan as a pushed filter → at scale, partition pruning on
                 a bucket-partitioned table); ADC gather-sum per (row, query
                 probing that bucket); top-shortlist window; exact rerank of
                 only the shortlist.
  eval (this driver row) — one fused corpus pass computing exact cosine,
                 coarse bucket, and ADC side by side (the pq_eval_scores
                 pattern: the exact ranking needs a full scan anyway), then a
                 single window pipeline derives exact rank, shortlist
                 membership among PROBED rows only, and the per-query recall
                 flag. The serving path is pytest-proven to produce the same
                 shortlist rows as the fused eval.

Reference scope note: the reference extension (alamminsalo/duckdb-ml,
src/lib.rs — 4 scalar ML functions) has no ANN surface; this family is part
of the brief's LLM-data-pipeline north star, composing the repo's own IVF
(similarity.py:630) and PQ (pq.py) pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_ml_spark.memo import memo
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

CLUSTER_C = 16  # derived cluster count == IVF coarse cells
MIX_BETA = 1.0  # derived = center + emb: cluster structure ADDED, vector kept
IVFPQ_NPROBE = 3  # probed cells per query (coverage 1.0 measured at 2 sfs)
IVFPQ_M = 32  # PQ subspaces for the RESIDUAL codes (2 dims x 256 codewords)


def derive_clustered(X, ids):
    """(n, d) float64 derived vectors: center(ids % C) + β·X. One multiply-
    add per element after integer-exact center construction — the NumPy and
    SQL forms agree bitwise."""
    import numpy as np

    c = (ids % CLUSTER_C).astype(np.int64)
    i = np.arange(X.shape[1], dtype=np.int64)
    center = ((c[:, None] * 31 + i[None, :] * 17) % 13 - 6) / 6.0
    return center + MIX_BETA * X


def derived_embeddings(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(vec_id, embedding array<double>) — the derived clustered table as a
    lazy map-only Arrow kernel over the raw embeddings."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(emb.sparkSession)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            D = derive_clustered(X, ids)
            yield pd.DataFrame({id_col: ids, "embedding": list(D)})

    return emb.select(id_col, "embedding").mapInPandas(
        gen, f"{id_col} bigint, embedding array<double>"
    )


def derived_sql_cte() -> str:
    """DuckDB CTE producing the identical derived table (list rebuilt in
    element order; center arithmetic integer-exact, then /6.0 and the single
    multiply-add match the kernel's float64 ops)."""
    return f"""idx AS (
    SELECT vec_id, unnest(embedding) AS x, generate_subscripts(embedding, 1) AS ord
    FROM embeddings
),
demb AS (
    SELECT vec_id,
           list((((vec_id % {CLUSTER_C}) * 31 + (ord - 1) * 17) % 13 - 6) / 6.0
                + {MIX_BETA} * x::DOUBLE ORDER BY ord) AS embedding
    FROM idx GROUP BY vec_id
)"""


def ivfpq_artifacts(spark: SparkSession, sf_dir: str):
    """(CM centroid matrix, books) — index-build artifacts, memoized per
    dataset like the IVF centroid table / PQ codebooks (cold build collects →
    the query is in __spark_entry__._EXEC_AT_BUILD)."""
    return memo(spark, (sf_dir, "ivfpq_art"), lambda: _build_artifacts(spark, sf_dir))


def _build_artifacts(spark: SparkSession, sf_dir: str):
    import numpy as np

    from duckdb_ml_spark.operators.pq import PQ_TRAIN_CAP, train_pq_codebooks
    from duckdb_ml_spark.operators.similarity import kmeans_centroids
    from duckdb_ml_spark.operators.vec import collect_matrix
    from duckdb_ml_spark.operators.dedup import _cached_count

    emb = load(spark, sf_dir, "embeddings")
    demb = derived_embeddings(emb)
    _, CM = kmeans_centroids(demb, k=CLUSTER_C, seed=42)
    n = _cached_count(emb, sf_dir)
    stride = max(1, -(-n // PQ_TRAIN_CAP))
    sample = demb.where(F.col("vec_id") % stride == 0) if stride > 1 else demb
    ids, X = collect_matrix(sample, "vec_id")  # used once: the artifacts are memoized
    # id-sorted training sample → layout-independent codebooks (ADVICE r4)
    order = np.argsort(ids, kind="stable")
    Xs = X[order]
    # RESIDUAL training (IVFADC): codebooks learn x − centroid(bucket),
    # with the sample assigned by the same cosine-argmax the kernels use
    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix

    b = np.argmax(_seq_cosine_matrix(Xs, CM), axis=1)
    books = train_pq_codebooks(Xs - CM[b], m=IVFPQ_M)
    return CM, books


def _query_probes(Q, CM, nprobe: int = IVFPQ_NPROBE):
    """(nq, C) bool probe mask: each query's nprobe nearest coarse cells by
    the same sequential-fold cosine the corpus assignment uses."""
    import numpy as np

    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix

    qc = _seq_cosine_matrix(Q, CM)
    P = np.zeros(qc.shape, dtype=bool)
    for qi in range(qc.shape[0]):
        P[qi, np.argsort(-qc[qi], kind="stable")[:nprobe]] = True
    return P


def _derived_queries(spark: SparkSession, sf_dir: str):
    from duckdb_ml_spark.operators.similarity import N_QUERIES
    from duckdb_ml_spark.operators.vec import collect_matrix

    emb = load(spark, sf_dir, "embeddings")
    q_ids, Qraw = collect_matrix(
        emb.where(F.col("vec_id") < N_QUERIES), "vec_id", cache_key=(sf_dir, "bf_queries")
    )
    return q_ids, derive_clustered(Qraw, q_ids)


def ivfpq_recall_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, rank, ivfpq_recall_ok) — exact top-k over the
    derived vectors, flagged by whether the composed IVF-PQ pipeline's
    shortlist (ADC over PROBED cells only) covers ≥ RECALL_MIN of it.

    Fused-eval plan (the pq_eval_scores pattern): ONE corpus pass computes
    derived vector, exact cosine vs the broadcast queries, coarse bucket
    (argmax vs broadcast centroids) and ADC cosine (LUT gather) side by
    side; downstream is a single query_id-partitioned window pipeline — no
    joins, one exchange. A row enters the shortlist only if its bucket is
    probed by that query AND its ADC rank among probed rows ≤ PQ_SHORTLIST:
    exactly what the pruned serving scan produces (pytest-equivalent)."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.pq import (
        PQ_SHORTLIST, RECALL_MIN, _adc_gather, _build_lut, _encode_batch,
    )
    from duckdb_ml_spark.operators.similarity import TOP_K
    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    CM, books = ivfpq_artifacts(spark, sf_dir)
    q_ids, Q = _derived_queries(spark, sf_dir)
    P = _query_probes(Q, CM)
    lut, l2q = _build_lut(Q, books)  # dot(query, residual codeword) tables
    qdotc = Q @ CM.T  # exact dot(query, centroid_b) — the IVFADC first term
    emb = load(spark, sf_dir, "embeddings")
    bc = spark.sparkContext.broadcast(
        (np.asarray(q_ids), Q, CM, P, books, lut, l2q, qdotc)
    )

    def gen(batches):
        ids_q, Qb, CMb, Pb, B, lut_b, l2q_b, qdotc_b = bc.value
        nq, mb, kb = lut_b.shape
        flat = lut_b.reshape(nq, mb * kb)
        offs = np.arange(mb) * kb
        ones_q = np.ones(nq)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids_c = pdf["vec_id"].to_numpy()
            D = derive_clustered(X, ids_c)
            cos = _seq_cosine_matrix(D, Qb).T  # (nq, n) exact
            buckets = np.argmax(_seq_cosine_matrix(D, CMb), axis=1)  # (n,)
            codes, _ = _encode_batch(D - CMb[buckets], B)  # residual codes
            l2 = np.sqrt((D * D).sum(axis=1))
            raw = _adc_gather(flat, offs, codes, ones_q, np.ones(len(ids_c)))
            adc = (qdotc_b[:, buckets] + raw) / (l2q_b[:, None] * l2[None, :])
            probed = Pb[:, buckets]  # (nq, n)
            n = len(pdf)
            out = pd.DataFrame({
                "query_id": np.repeat(ids_q, n),
                "neighbor_id": np.tile(ids_c, nq),
                "cos": cos.ravel(),
                "adc_cos": adc.ravel(),
                "probed": probed.ravel(),
            })
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = emb.select("vec_id", "embedding").mapInPandas(
        gen,
        "query_id bigint, neighbor_id bigint, cos double, adc_cos double, probed boolean",
    )
    w_cos = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    # probed rows rank first, so adc_rank of a probed row == its rank among
    # probed rows only — the IVF-pruned shortlist, without a second scan
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("probed"), F.desc("adc_cos"), F.asc("neighbor_id")
    )
    w_q = Window.partitionBy("query_id")
    ranked = scored.select(
        "query_id", "neighbor_id", "probed",
        F.row_number().over(w_cos).alias("rank"),
        F.row_number().over(w_adc).alias("adc_rank"),
    )
    hit = (
        (F.col("rank") <= TOP_K)
        & F.col("probed")
        & (F.col("adc_rank") <= PQ_SHORTLIST)
    ).cast("bigint")
    flagged = ranked.select(
        "query_id", "neighbor_id", "rank",
        (F.sum(hit).over(w_q) >= F.lit(int(RECALL_MIN * TOP_K + 0.5))).alias(
            "ivfpq_recall_ok"
        ),
    )
    return flagged.where(F.col("rank") <= TOP_K).select(
        "query_id", "neighbor_id", "rank", "ivfpq_recall_ok"
    )


def ivfpq_code_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-side index relation: (vec_id, bucket, l2, codes) — one
    map pass; what a deployment persists bucket-partitioned so the probe
    filter becomes partition pruning."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.pq import _encode_batch
    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    CM, books = ivfpq_artifacts(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings")
    bc = spark.sparkContext.broadcast((CM, books))

    def gen(batches):
        CMb, B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            ids = pdf["vec_id"].to_numpy()
            D = derive_clustered(X, ids)
            buckets = np.argmax(_seq_cosine_matrix(D, CMb), axis=1)
            codes, _ = _encode_batch(D - CMb[buckets], B)  # residual codes
            l2 = np.sqrt((D * D).sum(axis=1))  # exact norm of the VECTOR
            yield pd.DataFrame(
                {"vec_id": ids, "bucket": buckets, "l2": l2, "codes": list(codes)}
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        gen, "vec_id bigint, bucket int, l2 double, codes array<bigint>"
    )


def ivfpq_shortlist_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id) — the PRUNED serving shortlist: scan only
    code-table rows whose bucket is probed by at least one query (pushed
    `bucket IN (...)` filter; partition pruning on a bucket-partitioned
    table at scale), ADC-score each row against exactly the queries probing
    its bucket, keep top-PQ_SHORTLIST per query. Pytest-proven equal to the
    fused eval's shortlist."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.pq import PQ_SHORTLIST, _build_lut, _adc_gather
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    CM, books = ivfpq_artifacts(spark, sf_dir)
    q_ids, Q = _derived_queries(spark, sf_dir)
    P = _query_probes(Q, CM)
    lut, l2q = _build_lut(Q, books)
    qdotc = Q @ CM.T
    probed_buckets = sorted(int(b) for b in np.nonzero(P.any(axis=0))[0])
    codes = ivfpq_code_table(spark, sf_dir).where(
        F.col("bucket").isin(probed_buckets)
    )
    bc = spark.sparkContext.broadcast((np.asarray(q_ids), P, lut, l2q, qdotc))

    def gen(batches):
        ids_q, Pb, lut_b, l2q_b, qdotc_b = bc.value
        nq, mb, kb = lut_b.shape
        flat = lut_b.reshape(nq, mb * kb)
        offs = np.arange(mb) * kb
        ones_q = np.ones(nq)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.stack(pdf["codes"].to_numpy())
            ids_c = pdf["vec_id"].to_numpy()
            buckets = pdf["bucket"].to_numpy()
            l2c = pdf["l2"].to_numpy()
            raw = _adc_gather(flat, offs, cmat, ones_q, np.ones(len(ids_c)))
            adc = (qdotc_b[:, buckets] + raw) / (l2q_b[:, None] * l2c[None, :])
            probed = Pb[:, buckets]  # (nq, n)
            qi, ci = np.nonzero(probed)
            out = pd.DataFrame({
                "query_id": ids_q[qi],
                "neighbor_id": ids_c[ci],
                "adc_cos": adc[qi, ci],
            })
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = codes.mapInPandas(
        gen, "query_id bigint, neighbor_id bigint, adc_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("adc_rank", F.row_number().over(w))
        .where(F.col("adc_rank") <= PQ_SHORTLIST)
        .select("query_id", "neighbor_id")
    )


def _ivfpq_oracle() -> str:
    from duckdb_ml_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
WITH {derived_sql_cte()},
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding, c.embedding) AS cos
    FROM demb q JOIN demb c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank,
       TRUE AS ivfpq_recall_ok
FROM scored
QUALIFY rank <= {TOP_K}
"""


QUERIES: dict[str, QuerySpec] = {
    "sim_topk_ivfpq": QuerySpec(
        "sim_topk_ivfpq", ivfpq_recall_band, _ivfpq_oracle(),
        doc="Composed IVF-PQ ANN over the deterministically cluster-"
        "structured derived vectors: k-means coarse cells + PQ ADC, "
        "bucket-pruned shortlist, recall-band contract (flag red below 0.8; "
        "measured recall 1.0 at sf0.01 and sf0.1).",
        tags=("similarity", "ann", "ivf", "pq"),
    ),
}
