"""Similarity search over `embeddings` (driver L3): exact brute-force top-k
(oracle-checked value-for-value) and the IVF / sign-LSH approximate paths
(driver-checked through one-row completeness+recall acceptance contracts,
recall-tested in pytest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hadoop_sync_spark.queries import register
from hadoop_sync_spark.queries._util import materialize_and_free, t
from hadoop_sync_spark.functions.vectors import brute_force_topk, ivf_topk

_SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
)
_SQL_NORM = (
    "sqrt(list_reduce(list_transform({a},"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))"
)


# --------------------------------------------------------------------------
# q70 — exact cosine top-k (the ANN baseline)
# --------------------------------------------------------------------------
@register(
    "q70_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
               FROM embeddings WHERE vec_id < 5),
         scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               {_SQL_DOT.format(a='q.qvec', b='v.embedding')}
                 / nullif({_SQL_NORM.format(a='q.qvec')}
                          * {_SQL_NORM.format(a='v.embedding')}, 0.0)
                 AS cosine_sim
        FROM embeddings v CROSS JOIN q
        WHERE v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cosine_sim, rank FROM (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine_sim DESC, neighbor_id) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= 10
    """,
    tags=("vectors", "ann", "topk"),
)
def q70_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-10 cosine neighbors for 5 query vectors: broadcast the
    query set, scan the vector table once, per-group window top-k.
    The honest baseline the IVF path (q71) is measured against."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=10)


# --------------------------------------------------------------------------
# q71 — IVF approximate top-k (the 100 TB scale path; rows-only)
# --------------------------------------------------------------------------
#: Oracle for the ANN contract rows (q71/q72): the query-set size is
#: data-derived; completeness and recall are engine-side self-assertions
#: the oracle pins to TRUE (the q48/q32 contract pattern — the ANN
#: neighbor sets themselves are engine-specific by design).
_SQL_ANN_CONTRACT = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           TRUE AS complete_ok,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
"""


def _ann_contract(
    ann: DataFrame,
    exact: DataFrame,
    k: int,
    candidates: DataFrame,
    corpus: DataFrame,
    margin: float,
) -> DataFrame:
    """One-row ANN acceptance contract: every query returned exactly k
    neighbors, and pooled recall against the exact top-k beats the
    random-scan baseline by `margin`.

    The baseline is *data-derived* (round-2 advisor item): scanning the
    same number of candidates uniformly at random would recall
    ``frac = |candidates| / (n_queries · (N − 1))`` of the exact top-k in
    expectation, so the contract asserts
    ``hits ≥ margin · frac · n_exact`` — i.e. the index genuinely
    concentrates neighbors, at whatever operating point the current
    fixture puts it.  A fixture regeneration moves the baseline with the
    data instead of stranding a tuned constant (recall floors 0.35/0.55
    were measured on round-2 fixtures; this replaces them).  All attaches
    are one-row broadcast scalars — no data×data join.

    The contract references `ann` twice (shape + hits) and `candidates`
    once, and every subtree shares the expensive signature/ADC/bucket
    pipeline — which the pandas-UDF stages keep Spark from reusing
    across subtrees (same ReuseExchange defeat as minhash_lsh_pairs), so
    without a persist each driver check pays up to two extra full
    pipeline executions.  `exact` is likewise referenced twice (hits +
    n_exact) and is itself a full brute-force corpus scan, so all THREE
    frames are persisted EAGERLY (lazy persists lose the race against
    the concurrent one-row broadcast jobs, the q63 lesson); the contract
    row is then MATERIALIZED and every cache freed before returning — a
    lazily returned plan would either hold the caches for the session
    lifetime (a driver sweep accumulates a dozen cached pipelines) or,
    unpersisted early, recompute everything at collect time."""
    from pyspark import StorageLevel

    ann = ann.persist(StorageLevel.MEMORY_AND_DISK)
    candidates = candidates.persist(StorageLevel.MEMORY_AND_DISK)
    exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
    ann.count()
    candidates.count()
    exact.count()
    per_q = ann.groupBy("query_id").agg(F.count("*").alias("n"))
    shape = per_q.agg(
        F.count("*").alias("n_queries"),
        F.min("n").alias("_mn"),
        F.max("n").alias("_mx"),
    )
    hits = ann.join(
        exact.select("query_id", "neighbor_id"),
        ["query_id", "neighbor_id"],
    ).agg(F.count("*").alias("_hits"))
    n_exact = exact.agg(F.count("*").alias("_n_exact"))
    n_cand = candidates.agg(F.count("*").alias("_n_cand"))
    n_corpus = corpus.agg(F.count("*").alias("_n_corpus"))
    assembled = (
        shape.crossJoin(F.broadcast(hits))
        .crossJoin(F.broadcast(n_exact))
        .crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_corpus))
        .select(
            "n_queries",
            ((F.col("_mn") == k) & (F.col("_mx") == k)).alias("complete_ok"),
            (
                F.col("_hits")
                >= F.lit(margin)
                * F.col("_n_cand")
                / F.greatest(
                    F.col("n_queries") * (F.col("_n_corpus") - 1), F.lit(1)
                )
                * F.col("_n_exact")
            ).alias("recall_ok"),
        )
    )
    return materialize_and_free(assembled, [ann, candidates, exact])


@register(
    "q71_ivf_topk",
    oracle=_SQL_ANN_CONTRACT,
    tags=("vectors", "ann", "ivf"),
)
def q71_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via coarse IVF: spherical k-means centroids
    trained on a bounded driver-side sample (constant cost in corpus
    size, FAISS convention — see functions/vectors.py::kmeans_centroids),
    vectors assigned to 16 centroid buckets in one Arrow matmul pass,
    queries probing their 4 nearest buckets (~4/16 of the data scanned).
    Deterministic given the fixed k-means seed.

    Driver-checked through the one-row acceptance contract: completeness
    (10 neighbors per query) and pooled recall ≥ 1.4× the data-derived
    random-scan baseline (scanned fraction ≈ n_probe/n_centroids = 0.25;
    recall measured ~0.5 at sf0.001-0.01, so the contract holds with ~40%
    headroom on both sides and tracks any fixture regeneration); the
    sharper ≥0.6 recall bound at n_probe=8 and the
    k-means-beats-lowest-id margin stay asserted in
    tests/test_vectors.py."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann, cands = ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=4, with_candidates=True
    )
    ann = ann.select("query_id", "neighbor_id", "cosine_sim", "rank")
    exact = brute_force_topk(emb, queries, k=10)
    return _ann_contract(
        ann, exact, k=10, candidates=cands, corpus=emb, margin=1.4
    )


# --------------------------------------------------------------------------
# q72 — random-hyperplane LSH approximate top-k (rows-only)
# --------------------------------------------------------------------------
@register(
    "q72_rp_lsh_topk",
    oracle=_SQL_ANN_CONTRACT,
    tags=("vectors", "ann", "lsh"),
)
def q72_rp_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via random-hyperplane (sign) LSH: 48 sign bits →
    eight 6-bit bands → bucket join → exact cosine rescoring (Charikar
    STOC'02).  The bucketed alternative to IVF (q71): no centroid pass, so
    it suits append-heavy corpora where re-clustering is unaffordable.

    Driver-checked through the one-row acceptance contract: completeness
    (10 neighbors per query) and pooled recall ≥ 1.4× the data-derived
    random-scan baseline (the band join's actual candidate fraction —
    measured ~0.13 of the corpus at this operating point, with recall
    ~0.3-0.4 → concentration ~2.5×, headroom ~1.8× over the floor on
    round-3 fixtures); per-pair recall/precision and the hash-join plan
    shape stay asserted in tests/test_vectors.py.

    Band shape is regime-dependent: the fixture cloud is near-uniform
    (top-10 cosine ≈ 0.3 → per-bit agreement ≈ 0.6), so wide bands trade
    recall for selectivity steeply; 6-bit bands scan ~13% of the corpus —
    the honest scale operating point (4-bit bands reach recall 0.74 here
    but admit 54% of the corpus, half a brute-force scan).  A true
    near-dup corpus (cosine ≥ 0.9, agreement ≈ 0.9) gets high recall from
    8-bit bands at ~3% fan-in — band_bits is the knob, as n_probe is for
    IVF."""
    from hadoop_sync_spark.functions.vectors import rp_lsh_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann, cands = rp_lsh_topk(
        emb, queries, k=10, n_planes=48, band_bits=6, with_candidates=True
    )
    exact = brute_force_topk(emb, queries, k=10)
    return _ann_contract(
        ann, exact, k=10, candidates=cands, corpus=emb, margin=1.4
    )


# --------------------------------------------------------------------------
# q111 — product-quantization ADC top-k (the ANN memory-compression layer)
# --------------------------------------------------------------------------
@register(
    "q111_pq_topk",
    oracle=_SQL_ANN_CONTRACT,
    tags=("vectors", "ann", "pq"),
)
def q111_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-10 via product quantization (Jégou et al., TPAMI
    2011): vectors compress to 8 codebook codes (m=8 subspaces × 16
    centroids — 4 bytes vs 256 of float32 at dim 64), the corpus is
    scanned as codes with per-query lookup tables (ADC), and the top-50
    ADC candidates per query are rescored with exact cosine.  The memory
    half of IVF-PQ: at 100 TB the codes fit hot storage where the raw
    embeddings cannot, and only 50·|queries| full vectors are ever read
    back.  Codebook training is constant-cost (bounded driver-side
    sample, the q71 discipline).

    Driver-checked through the one-row acceptance contract
    (completeness + pooled recall ≥ 1.4× the data-derived random-scan
    baseline; measured concentration ~8× at sf0.01 — PQ error is small
    on this cloud because 16 centroids/subspace quantize an 8-dim
    subspace of a near-uniform distribution gently); per-ranking recall
    stays asserted in tests/test_vectors.py."""
    from hadoop_sync_spark.functions.vectors import pq_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann, cands = pq_topk(
        emb, queries, k=10, m=8, ksub=16, n_candidates=50,
        with_candidates=True,
    )
    exact = brute_force_topk(emb, queries, k=10)
    return _ann_contract(
        ann, exact, k=10, candidates=cands, corpus=emb, margin=1.4
    )


# --------------------------------------------------------------------------
# q114 — composed IVF-PQ top-k (coarse probe × compressed scan)
# --------------------------------------------------------------------------
@register(
    "q114_ivf_pq_topk",
    oracle=_SQL_ANN_CONTRACT,
    tags=("vectors", "ann", "ivf", "pq"),
)
def q114_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ composition (FAISS `IVFx,PQy`; Jégou et al.,
    TPAMI 2011) the q111 docstring promises: the coarse IVF layer
    restricts the scan to 4 of 16 centroid buckets, the PQ layer scans
    those buckets as 8-code rows via per-query ADC lookup tables, and
    the ADC top-50 are rescored with exact cosine.  The layers multiply
    — ~n_probe/n_centroids of the rows, each read ~30× smaller — the
    only ANN shape that works when 100 TB of embeddings must be
    searched from cold storage.  Both training passes are bounded
    driver-side samples (constant in corpus size).

    Driver-checked through the one-row acceptance contract
    (completeness + pooled recall ≥ 1.4× the data-derived random-scan
    baseline; measured concentration ~5.4× at sf0.01 — below q111's
    ~8× because the probe restriction costs some recall before ADC
    ranks, exactly the IVF trade q71 documents); ranking-level recall
    stays asserted in tests/test_vectors.py."""
    from hadoop_sync_spark.functions.vectors import ivf_pq_topk

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    ann, cands = ivf_pq_topk(
        emb, queries, k=10, n_centroids=16, n_probe=4, m=8, ksub=16,
        n_candidates=50, with_candidates=True,
    )
    exact = brute_force_topk(emb, queries, k=10)
    return _ann_contract(
        ann, exact, k=10, candidates=cands, corpus=emb, margin=1.4
    )
