"""Product-quantization (PQ) approximate nearest neighbor — the codebook ANN
family next to IVF (reference has no ANN at all; this is the brief's
similarity-search scale path, NOTES r4 surface candidate).

PQ (Jegou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011) splits each D-dim vector into M subvectors and vector-quantizes
each subspace against its own K-centroid codebook, so a vector is stored as M
uint8 codes (here 64 dims -> 16 codes = 16x smaller than float32). Queries are
answered with ADC (asymmetric distance computation): the query stays float,
each subspace contributes a K-entry lookup table of partial dot products, and
a corpus vector's approximate score is the sum of M table lookups — no
decode, no float corpus I/O.

Scale shape (the reason PQ exists):
- Codebook training is a BOUNDED driver-side k-means over a deterministic
  sample (codebooks are M*K*D/M floats ~ a few KB — a dataset artifact like
  the IVF centroid table, cached per sf_dir).
- Encoding is ONE map pass: corpus streams against the broadcast codebooks,
  emitting (vec_id, l2, codes). At 100 TB this writes the code table once;
  serving reads codes only.
- ADC scoring is ONE map pass of the code table against the broadcast
  (queries x LUT) — per corpus row it is M uint8 gathers + an add chain.
  Only (query, neighbor, score) rows reach the per-query top-k window;
  vectors never shuffle. On a real corpus you'd compose with the IVF
  partitioning (IVF-PQ) so a query scans only its probed buckets' codes.

Correctness contract (driver row `sim_pq_recall_band`): PQ scores are
approximate, so — exactly like `price_quantiles_approx_band`'s sketch
contract — the hash-checked columns are the EXACT brute-force top-k
(oracle-replicable SQL) plus the documented property the PQ index must
guarantee: its ADC shortlist of SHORTLIST candidates contains >= RECALL_MIN
of each query's true top-k (`pq_recall_ok`, TRUE per row in the oracle).
A quality regression in the quantizer flips the flag and the row goes red.
Parameter note: the synthetic embeddings are near-isotropic (cosine values
cluster tightly), so coarse codebooks rank poorly — measured shortlist
recall at (M=8, K=16) was 0.72 avg; (M=16, K=256) reaches min-recall 1.0 for
every query at BOTH sf0.01 (n=500) and sf0.1 (n=2000). RECALL_MIN is 0.8 so
the flag is a contract with margin, not a tautology. On a real corpus with
cluster structure, M=8/K=256 (8 bytes/vector) is the standard setting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_ml_spark.memo import memo
from duckdb_ml_spark.plans.relational import QuerySpec
from duckdb_ml_spark.tables import load

PQ_M = 16  # subspaces (64-dim embeddings -> 4 dims per subspace)
PQ_K = 256  # centroids per subspace codebook (clamped to the training size)
PQ_SEED = 13
PQ_ITERS = 8
PQ_TRAIN_CAP = 4096  # max training vectors collected to the driver
PQ_SHORTLIST = 50  # ADC candidates per query fed to the recall check
RECALL_MIN = 0.8  # shortlist must contain >= this fraction of the true top-k


def _sq_dists(sub, C):
    """(n, k) squared l2 distances from each row of sub (n, dsub) to each
    centroid of C (k, dsub), summed over the dsub columns left to right in
    (n, k) arrays. numpy sums fewer than 8 elements left to right too, so for
    the engine's dsub (4 and 2) this is bit-identical to
    ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2) without its
    (n, k, dsub) temporary (n=500 codebooks, 8 iterations: m=16 0.51 -> 0.25 s,
    m=32 0.89 -> 0.35 s)."""
    d2 = (sub[:, 0:1] - C[None, :, 0]) ** 2
    for c in range(1, sub.shape[1]):
        d2 += (sub[:, c:c + 1] - C[None, :, c]) ** 2
    return d2


def train_pq_codebooks(X, m: int = PQ_M, k: int = PQ_K, seed: int = PQ_SEED,
                       iters: int = PQ_ITERS):
    """(m, k, d/m) float64 codebooks via per-subspace Lloyd's k-means.

    Deterministic: seeded init (RandomState permutation), np.argmin ties break
    to the lowest centroid index, fixed iteration count, empty clusters keep
    their previous centroid. Training input is already bounded by the caller.
    """
    import numpy as np

    n, d = X.shape
    assert d % m == 0, f"dim {d} not divisible by {m} subspaces"
    dsub = d // m
    k = min(k, n)
    rs = np.random.RandomState(seed)
    books = np.empty((m, k, dsub))
    for s in range(m):
        sub = X[:, s * dsub:(s + 1) * dsub]
        C = sub[rs.permutation(n)[:k]].copy()
        for _ in range(iters):
            a = np.argmin(_sq_dists(sub, C), axis=1)  # ties -> lowest index
            # per-centroid means from bincount sums: each sum accumulates its
            # points in row order, as sub[a == j].mean(axis=0) does, so the
            # codebooks are byte-identical to the per-centroid loop's
            cnt = np.bincount(a, minlength=k)
            hit = cnt > 0
            for c in range(dsub):
                C[hit, c] = np.bincount(a, weights=sub[:, c], minlength=k)[hit] / cnt[hit]
        books[s] = C
    return books


def pq_codebooks_for(spark: SparkSession, sf_dir: str):
    """Train-once codebooks per sf_dir (dataset artifact, like the IVF
    centroid table). Training sample: vec_id stride so the collect stays
    under PQ_TRAIN_CAP rows regardless of corpus size."""
    return memo(
        spark, (sf_dir, "pq_codebooks", PQ_M, PQ_K, PQ_SEED),
        lambda: _train_codebooks_for(spark, sf_dir),
    )


def _train_codebooks_for(spark: SparkSession, sf_dir: str):
    import numpy as np

    from duckdb_ml_spark.operators.dedup import _cached_count
    from duckdb_ml_spark.operators.vec import collect_matrix

    emb = load(spark, sf_dir, "embeddings")
    n = _cached_count(emb, sf_dir)
    stride = max(1, -(-n // PQ_TRAIN_CAP))
    sample = emb.where(F.col("vec_id") % stride == 0) if stride > 1 else emb
    ids, X = collect_matrix(sample, "vec_id")  # used once: the codebooks are memoized
    # collect_matrix rows arrive in scan/partition order; k-means init
    # seeds from row permutation, so unsorted input makes codebooks (and
    # the exact-top-k oracle's empirical recall) layout-dependent. Sort by
    # vec_id so codebooks are a pure function of the dataset (ADVICE r4).
    return train_pq_codebooks(X[np.argsort(ids, kind="stable")])


def _encode_batch(X, books):
    """((n, m) int64 codes, (n,) exact sequential-fold l2) for a float64
    batch — THE one encode expression, shared by pq_encode and
    pq_eval_scores (review finding: the eval kernel's bit-parity with the
    serving path must be structural, not hand-copied)."""
    import numpy as np

    m, _, dsub = books.shape
    l2 = np.zeros(len(X))
    for i in range(X.shape[1]):  # sequential fold (oracle parity)
        l2 = l2 + X[:, i] * X[:, i]
    l2 = np.sqrt(l2)
    codes = np.empty((len(X), m), dtype=np.int64)
    for s in range(m):
        sub = X[:, s * dsub:(s + 1) * dsub]
        codes[:, s] = np.argmin(_sq_dists(sub, books[s]), axis=1)
    return codes, l2


def pq_encode(emb: DataFrame, books, id_col: str = "vec_id",
              arr_col: str = "embedding") -> DataFrame:
    """(vec_id, l2, codes array<int>) — one map pass against the broadcast
    codebooks. l2 is the exact sequential-fold norm (used to turn ADC dots
    into cosines); codes[s] = argmin_j ||x_sub_s - books[s][j]||^2."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    bc = spark.sparkContext.broadcast(books)

    def gen(batches):
        B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[arr_col].to_numpy()).astype(np.float64)
            codes, l2 = _encode_batch(X, B)
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy(),
                "l2": l2,
                "codes": list(codes),
            })

    return emb.select(id_col, arr_col).mapInPandas(
        gen, "vec_id bigint, l2 double, codes array<bigint>"
    )


def _build_lut(Q, books):
    """((nq, m, k) per-query lookup tables, query l2 norms) — THE one ADC
    LUT construction, shared by pq_adc_shortlist and pq_eval_scores so the
    fused eval kernel stays bit-identical to the serving path structurally,
    not by hand-copied code (review finding)."""
    import numpy as np

    m, k, dsub = books.shape
    nq = Q.shape[0]
    lut = np.empty((nq, m, k))
    for s in range(m):
        lut[:, s, :] = Q[:, s * dsub:(s + 1) * dsub] @ books[s].T
    return lut, np.sqrt((Q * Q).sum(axis=1))


def _adc_gather(flat, offs, codes, l2q, l2c):
    """(nq, n) ADC cosines from flattened LUTs — the one gather-sum
    expression (idx = code + s·k; dots = flat[:, idx].sum(axis=2))."""
    idx = codes + offs[None, :]
    dots = flat[:, idx].sum(axis=2)
    return dots / (l2q[:, None] * l2c[None, :])


def pq_adc_shortlist(codes_df: DataFrame, q_ids, Q, books,
                     n_shortlist: int = PQ_SHORTLIST) -> DataFrame:
    """(query_id, neighbor_id, adc_cos, rank) — top-n_shortlist per query by
    ADC: LUT[s][j] = dot(q_sub_s, books[s][j]) per query, a corpus row's
    approximate dot is sum_s LUT[s][codes[s]], turned into a cosine with the
    stored exact corpus l2 and the query l2. One map pass over the code
    table; only scored triples reach the top-k window."""
    import numpy as np
    import pandas as pd

    spark = codes_df.sparkSession
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    lut, l2q = _build_lut(Q, books)
    bc = spark.sparkContext.broadcast((np.asarray(q_ids), lut, l2q))

    def gen(batches):
        ids_q, lut_b, l2q_b = bc.value
        nq_b, m_b, k_b = lut_b.shape
        # flatten LUT so one gather per (row, query): idx = s*k + code
        flat = lut_b.reshape(nq_b, m_b * k_b)
        offs = np.arange(m_b) * k_b
        for pdf in batches:
            if len(pdf) == 0:
                continue
            codes = np.stack(pdf["codes"].to_numpy())  # (n, m)
            cos = _adc_gather(flat, offs, codes, l2q_b, pdf["l2"].to_numpy())
            ids_c = pdf["vec_id"].to_numpy()
            n = len(pdf)
            out = pd.DataFrame({
                "query_id": np.repeat(ids_q, n),
                "neighbor_id": np.tile(ids_c, nq_b),
                "adc_cos": cos.ravel(),
            })
            yield out[out["query_id"] != out["neighbor_id"]]

    scored = codes_df.mapInPandas(
        gen, "query_id bigint, neighbor_id bigint, adc_cos double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= n_shortlist)
    )


def pq_eval_scores(emb: DataFrame, q_ids, Q, books,
                   id_col: str = "vec_id", arr_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, cos, adc_cos) in ONE corpus pass — the fused
    EVAL kernel: exact cosine (bit-identical to vec.cosine_scores_vs_broadcast's
    sequential fold) and the ADC score (bit-identical expressions to
    pq_encode + pq_adc_shortlist: same argmin codes, same LUT gather-sum)
    computed side by side while the vectors are already in cache. Exists to
    cut the eval harness from three corpus map passes (encode, ADC, brute)
    to one; PRODUCTION serving still scans the persisted code table via
    pq_encode/pq_adc_shortlist (pytest-proven to produce identical rows)."""
    import numpy as np
    import pandas as pd

    from duckdb_ml_spark.operators.vec import _seq_cosine_matrix
    from duckdb_ml_spark.session import ensure_shipped

    spark = emb.sparkSession
    ensure_shipped(spark)
    lut, l2q = _build_lut(Q, books)
    bc = spark.sparkContext.broadcast((np.asarray(q_ids), Q, books, lut, l2q))

    def gen(batches):
        ids_q, Qb, B, lut_b, l2q_b = bc.value
        mb, kb, _ = B.shape
        flat = lut_b.reshape(len(ids_q), mb * kb)
        offs = np.arange(mb) * kb
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[arr_col].to_numpy()).astype(np.float64)
            ids_c = pdf[id_col].to_numpy()
            cos = _seq_cosine_matrix(X, Qb).T  # (nq, n) — same fold as brute
            codes, l2 = _encode_batch(X, B)  # same codes/l2 as pq_encode
            adc = _adc_gather(flat, offs, codes, l2q_b, l2)  # same as serving
            n = len(pdf)
            out = pd.DataFrame({
                "query_id": np.repeat(ids_q, n),
                "neighbor_id": np.tile(ids_c, len(ids_q)),
                "cos": cos.ravel(),
                "adc_cos": adc.ravel(),
            })
            yield out[out["query_id"] != out["neighbor_id"]]

    return emb.select(id_col, arr_col).mapInPandas(
        gen, "query_id bigint, neighbor_id bigint, cos double, adc_cos double"
    )


def _recall_flag(exact: DataFrame, shortlist: DataFrame, top_k: int) -> DataFrame:
    """exact top-k rows + per-query pq_recall_ok from shortlist coverage.

    LEFT join + coalesce(n_hit, 0): a query whose shortlist covers ZERO of
    its true top-k has no row in `hits` at all — an inner join would silently
    DROP that query's rows exactly in the regime the flag exists to expose
    (total quantizer regression); it must surface as pq_recall_ok=false."""
    hits = (
        exact.join(shortlist, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return exact.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        "neighbor_id",
        "rank",
        (
            F.coalesce("n_hit", F.lit(0)) >= F.lit(int(RECALL_MIN * top_k + 0.5))
        ).alias("pq_recall_ok"),
    )


def _pq_recall_band_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from duckdb_ml_spark.operators.similarity import N_QUERIES, TOP_K
    from duckdb_ml_spark.operators.vec import collect_matrix

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    books = pq_codebooks_for(spark, sf_dir)
    q_ids, Q = collect_matrix(queries, "vec_id", cache_key=(sf_dir, "bf_queries"))
    scored = pq_eval_scores(emb, q_ids, Q, books)
    # LINEAR pipeline — every relation has exactly one consumer, so the eval
    # kernel executes once (a DataFrame consumed twice re-runs its lineage;
    # the first fused attempt fed `ranked` into exact + shortlist + a
    # semi-join and re-ran the kernel three times, measured SLOWER than the
    # three-pass composition). Both ranks and the per-query hit count are
    # windows over the SAME query_id partitioning — one exchange total after
    # the kernel; the recall flag needs no join at all.
    w_cos = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    w_adc = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cos"), F.asc("neighbor_id")
    )
    w_q = Window.partitionBy("query_id")
    ranked = scored.select(
        "query_id", "neighbor_id",
        F.row_number().over(w_cos).alias("rank"),
        F.row_number().over(w_adc).alias("adc_rank"),
    )
    hit = ((F.col("rank") <= TOP_K) & (F.col("adc_rank") <= PQ_SHORTLIST)).cast("bigint")
    flagged = ranked.select(
        "query_id", "neighbor_id", "rank",
        (F.sum(hit).over(w_q) >= F.lit(int(RECALL_MIN * TOP_K + 0.5))).alias(
            "pq_recall_ok"
        ),
    )
    return flagged.where(F.col("rank") <= TOP_K).select(
        "query_id", "neighbor_id", "rank", "pq_recall_ok"
    )


def _pq_recall_band_composed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving-path composition (encode the code table, ADC over codes,
    brute-force exact) — pytest-proven row-identical to the fused eval form;
    this is the plan a production index actually runs."""
    from duckdb_ml_spark.operators.similarity import (
        N_QUERIES, TOP_K, brute_force_topk,
    )
    from duckdb_ml_spark.operators.vec import collect_matrix, embedding_dim

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb, cache_key=sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    exact = brute_force_topk(emb, queries, dim=dim, cache_key=sf_dir)
    books = pq_codebooks_for(spark, sf_dir)
    q_ids, Q = collect_matrix(queries, "vec_id", cache_key=(sf_dir, "bf_queries"))
    codes = pq_encode(emb, books)
    shortlist = pq_adc_shortlist(codes, q_ids, Q, books).select(
        "query_id", "neighbor_id"
    )
    return _recall_flag(exact, shortlist, TOP_K)


def _pq_recall_band_oracle() -> str:
    from duckdb_ml_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
WITH scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
    FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id,
       row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank,
       TRUE AS pq_recall_ok
FROM scored
QUALIFY rank <= {TOP_K}
"""


def pq_rerank_pairs(pairs_df: DataFrame, q_ids, Q,
                    id_col: str = "vec_id", arr_col: str = "embedding") -> DataFrame:
    """(query_id, neighbor_id, cos) — exact sequential-fold cosine for the
    PROPOSED (query, candidate) pairs only. Uses vec._seq_cosine_pairs, whose
    per-pair operation sequence is bit-identical to _seq_cosine_matrix /
    cosine_scores_vs_broadcast entries, so swapping the all-pairs-then-filter
    shape for this pair kernel cannot move a rank."""
    import numpy as np
    import pandas as pd

    spark = pairs_df.sparkSession
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    bc = spark.sparkContext.broadcast((np.asarray(q_ids), Q))

    def gen(batches):
        from duckdb_ml_spark.operators.vec import _seq_cosine_pairs

        ids_q, Qb = bc.value
        pos = {int(q): i for i, q in enumerate(ids_q)}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[arr_col].to_numpy()).astype(np.float64)
            J = np.fromiter(
                (pos[int(q)] for q in pdf["query_id"]), dtype=np.int64, count=len(pdf)
            )
            cos = _seq_cosine_pairs(X, Qb, np.arange(len(pdf)), J)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "cos": cos,
                }
            )

    return pairs_df.select("query_id", id_col, arr_col).mapInPandas(
        gen, "query_id bigint, neighbor_id bigint, cos double"
    )


def _pq_topk_rerank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ SERVING query: ADC shortlist from the code table, exact-cosine
    rerank of only the SHORTLIST candidates, top-k out. This is the
    two-stage retrieve-then-rerank architecture every production ANN system
    runs (codes for the wide scan, floats only for the short rerank).

    Oracle contract: exact top-k SQL — valid because the shortlist provably
    contains the true top-k here (measured recall 1.0 at sf0.01 AND sf0.1;
    the companion row `sim_pq_recall_band` enforces ≥0.8 as a hash-checked
    flag, so a quantizer regression turns BOTH rows red coherently rather
    than this one silently drifting).

    Plan (r15 optimization round, guide §2.4/§1.2): the shortlist lineage has
    exactly ONE consumer. The old shape consumed it twice — once as a
    distinct-id semi-join to fetch candidate vectors and once as a pair
    semi-join to scope the rerank — and each consumer re-executed the whole
    encode+ADC subtree (measured: the duplicated subtree was ~0.3 s of the
    1.3 s row at sf0.1; at 100 TB it is a second full corpus encode pass).
    Now the ≤ N_QUERIES·SHORTLIST proposed pairs broadcast onto the embedding
    scan (bounded by construction), and a pair kernel computes the exact
    sequential-fold cosine per proposed pair — _seq_cosine_pairs guarantees
    values bit-identical to cosine_scores_vs_broadcast's matrix entries, so
    ranks (and the oracle hash) are unchanged."""
    from duckdb_ml_spark.operators.similarity import N_QUERIES, TOP_K
    from duckdb_ml_spark.operators.vec import collect_matrix

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < N_QUERIES)
    books = pq_codebooks_for(spark, sf_dir)
    q_ids, Q = collect_matrix(queries, "vec_id", cache_key=(sf_dir, "bf_queries"))
    codes = pq_encode(emb, books)
    shortlist = pq_adc_shortlist(codes, q_ids, Q, books).select(
        "query_id", "neighbor_id"
    )
    pairs = emb.join(
        F.broadcast(shortlist.select("query_id", F.col("neighbor_id").alias("vec_id"))),
        "vec_id",
    )
    rer = pq_rerank_pairs(pairs, q_ids, Q)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        rer.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


def _pq_topk_rerank_oracle() -> str:
    from duckdb_ml_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
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


QUERIES: dict[str, QuerySpec] = {
    "sim_topk_pq_rerank": QuerySpec(
        name="sim_topk_pq_rerank",
        builder=_pq_topk_rerank_q,
        oracle=_pq_topk_rerank_oracle(),
        doc="PQ serving path: ADC shortlist over the code table, exact rerank "
        "of shortlist candidates only — retrieve-then-rerank, oracle = exact "
        "top-5 (shortlist provably covers it; see sim_pq_recall_band).",
        tags=("similarity", "ann", "pq", "serving"),
    ),
    "sim_pq_recall_band": QuerySpec(
        name="sim_pq_recall_band",
        builder=_pq_recall_band_q,
        oracle=_pq_recall_band_oracle(),
        doc="Product-quantization ANN (16x256 codebooks, ADC serving) with a "
        "recall-band invariant: the hash-checked rows are the exact top-5 "
        "plus the contract that the PQ shortlist covers >=80% of them.",
        tags=("similarity", "ann", "pq", "quantize"),
    ),
}
