"""Vector similarity: exact cosine machinery + brute-force and IVF top-k.

Dot products are sequential double folds over ``zip_with`` products — pure
JVM builtins, bit-deterministic, and expressible identically in the DuckDB
oracle (``list_zip`` + ``list_reduce``).  A pandas-UDF path would be faster
per-row for very high dimensions; at dim=64 the builtin fold keeps the whole
plan in codegen and avoids Arrow transfer entirely.

IVF background: inverted-file ANN indexing per Jégou et al., "Product
Quantization for Nearest Neighbor Search" (TPAMI 2011) — here only the
coarse IVF layer (centroid assignment + probe) without PQ compression.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from hadoop_sync_spark.io import local_frame


def dot(a: Column, b: Column) -> Column:
    """Exact-order dot product of two float arrays in DOUBLE."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0-vector-safe (returns NULL via nullif)."""
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Scale: broadcast the (small) query set against the full vector table —
    an embarrassingly parallel scan with per-partition top-k maintained by
    the rank<=k window filter (WindowGroupLimit pushes the limit into the
    shuffle).  Cost O(|vectors|·|queries|·dim) — the honest baseline every
    ANN variant is validated against."""
    # norms are projected ONCE per row on each side: `cosine()` inline in
    # the pair space would re-fold the vector-side norm once per QUERY and
    # the query-side norm once per ROW (|queries|× / |vectors|× redundant
    # dim-wide folds); sqrt of the same double multiplied once is
    # IEEE-identical, so oracle parity is unaffected.
    # Column trees memoized per (id_col, vec_col, k) — the dim-wide HOF
    # lambdas cost real py4j time per build (the q63 lesson, round 13).
    from hadoop_sync_spark.queries._util import memo

    q_sel, v_sel, sim_a, rank_a, keep = memo(
        f"brute_force_topk/{id_col}/{vec_col}/{k}",
        lambda: (
            [
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("_qvec"),
                l2_norm(F.col(vec_col)).alias("_qn"),
            ],
            [
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("_vvec"),
                l2_norm(F.col(vec_col)).alias("_vn"),
            ],
            (
                dot(F.col("_qvec"), F.col("_vvec"))
                / F.nullif(F.col("_qn") * F.col("_vn"), F.lit(0.0))
            ).alias("cosine_sim"),
            F.row_number()
            .over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cosine_sim").desc(), F.col("neighbor_id")
                )
            )
            .cast("long")
            .alias("rank"),
            F.col("rank") <= k,
        ),
    )
    q = queries.select(*q_sel)
    v = vectors.select(*v_sel)
    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim_a)
    )
    return scored.withColumn("rank", rank_a).filter(keep)


def _collect_sample(
    vectors: DataFrame,
    cap: int,
    id_col: str,
    vec_col: str,
    seed: int,
) -> np.ndarray:
    """The shared bounded, deterministic, hash-ordered training sample
    (raw float64 rows, NULL/empty dropped, zero-norm rows retained for
    the caller to drop after its own slicing — slicing the first k rows
    of a larger sample is then bit-identical to collecting k directly).
    Used by both the coarse-centroid and PQ-codebook trainers; callers
    composing the two (ivf_pq_topk) collect ONE sample and share it
    instead of paying two TakeOrdered corpus sweeps."""
    rows = (
        vectors.select(F.col(id_col).alias("_sid"), F.col(vec_col).alias("_v"))
        .filter(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
        .orderBy(F.xxhash64(F.col("_sid"), F.lit(seed)), F.col("_sid"))
        .limit(cap)
        .collect()
    )
    return np.array([r["_v"] for r in rows], dtype=np.float64)


def _normalize_drop(X: np.ndarray) -> np.ndarray:
    """L2-normalize sample rows, dropping zero-norm ones."""
    if X.size:
        nrm = np.linalg.norm(X, axis=1)
        X = X[nrm > 0] / nrm[nrm > 0, None]
    return X


def kmeans_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 20,
    id_col: str = "vec_id",
    sample_cap: int | None = None,
    raw_sample: np.ndarray | None = None,
) -> DataFrame:
    """Learn IVF coarse centroids: spherical k-means (k-means++ init +
    Lloyd) on a bounded, deterministic sample of L2-normalized vectors,
    trained driver-side in numpy.

    Why sampled-driver-side and not a distributed fit: coarse-quantizer
    training needs only O(samples-per-centroid) data — the FAISS
    convention is ~256 training points per centroid regardless of corpus
    size — so the training set is CONSTANT-sized (`sample_cap`, default
    `max(4096, 256·k)` rows ≈ MBs) while the corpus grows to 100 TB.  A
    distributed fit (MLlib k-means||) pays 20+ sequential cluster jobs of
    fixed scheduling overhead to compute what is milliseconds of numpy on
    a sample: measured at 10× sf0.1 (20k vectors), the MLlib path took
    ~80 s of wall clock for the fit while this path is <1 s and
    *independent of corpus size*.  Only the linear, shuffle-free parts
    stay distributed: the hash-ordered sample scan (TakeOrdered, one
    pass) and the assignment join (broadcast centroids).

    Determinism: the sample is the `sample_cap` lowest `xxhash64(id,
    seed)` rows (stable under partitioning), init/iteration use a seeded
    RandomState, and ties resolve by lowest index — same data, same
    centroids."""
    cap = sample_cap or max(4096, 256 * n_centroids)
    # collect RAW vectors and normalize in numpy: an in-plan
    # `transform(v, x -> x / l2_norm(v))` inlines the whole norm fold
    # into every element's lambda — O(dim²) interpreted ops per row,
    # measured ~19 s over 20k×64 vectors vs milliseconds driver-side
    X = (
        raw_sample[:cap]
        if raw_sample is not None
        else _collect_sample(vectors, cap, id_col, vec_col, seed)
    )
    X = _normalize_drop(X)
    if len(X) == 0:
        # without this, rs.randint(0) below raises an opaque ValueError
        raise ValueError(
            "kmeans_centroids: no trainable vectors — every sampled "
            f"{vec_col!r} is NULL, empty, or zero-norm"
        )
    k = min(n_centroids, len(X))
    rs = np.random.RandomState(seed)

    # k-means++ seeding (Arthur & Vassilvitskii, SODA'07): incremental
    # min-distance update keeps the whole init O(cap * k * dim)
    first = int(rs.randint(len(X)))
    cents = [X[first]]
    d2 = ((X - X[first]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        total = d2.sum()
        if total <= 0.0:  # all remaining points coincide with a center
            nxt = int(rs.randint(len(X)))
        else:
            nxt = int(rs.choice(len(X), p=d2 / total))
        cents.append(X[nxt])
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = np.stack(cents)

    for _ in range(max_iter):
        # unit-sphere data: argmin euclidean == argmax dot product
        assign = (X @ C.T).argmax(axis=1)
        newC = np.zeros_like(C)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                m = members.mean(axis=0)
                n = np.linalg.norm(m)
                newC[j] = m / n if n > 0 else C[j]
            else:  # empty cluster: reseed to the point farthest from its center
                worst = int(((X * C[assign]).sum(axis=1)).argmin())
                newC[j] = X[worst]
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC

    centers = [(i, [float(x) for x in C[i]]) for i in range(k)]
    return local_frame(
        vectors.sparkSession, centers, "centroid_id int, cvec array<double>"
    )


def ivf_assign(
    vectors: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build a coarse IVF index: (centroids, assignments).

    ``centroids="kmeans"`` (default) learns centers with sampled
    spherical k-means (:func:`kmeans_centroids`); ``"lowest_id"`` keeps
    the deterministic data-points-as-centers fallback (no fit pass —
    useful for fixture reproducibility and as the recall baseline the
    k-means path must beat, tests/test_vectors.py).

    Assignment is ONE narrow Arrow pass: the centroid matrix is
    driver-resident (k × dim doubles — tiny by construction), so nearest-
    centroid is a per-batch numpy matmul + argmax inside a pandas UDF —
    no crossJoin row expansion (k rows per vector), no window-argmin
    shuffle, and none of the per-pair interpreted `aggregate` folds that
    made the join formulation ~7× slower at 10× sf0.1.  Ties resolve to
    the lowest centroid_id (argmax-first), matching the old window order.
    Result is hash-partitionable by `centroid_id` — the bucket key that
    makes 100 TB ANN a per-bucket scan instead of a full sweep."""
    if centroids == "kmeans":
        cents = kmeans_centroids(
            vectors, n_centroids, vec_col=vec_col, seed=seed, id_col=id_col
        )
    elif centroids == "lowest_id":
        cents = (
            vectors.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).cast("int").alias("centroid_id"),
                F.col(vec_col).alias("cvec"),
            )
        )
    else:
        raise ValueError(f"unknown centroid strategy: {centroids!r}")
    assignments = vectors.select(
        F.col(id_col),
        nearest_centroids(cents, n_keep=1)(F.col(vec_col))[0].alias(
            "centroid_id"
        ),
    )
    return cents, assignments


def nearest_centroids(cents: DataFrame, n_keep: int):
    """Return a pandas UDF mapping a vector column → array of the
    `n_keep` nearest centroid_ids by cosine, descending (ties → lowest
    id, via stable argsort).  The centroid table is collected onto the
    driver — it is O(k·dim) by construction — and rides into executors as
    a closure constant, the broadcast-small-side pattern without a join."""
    rows = cents.orderBy("centroid_id").collect()
    ids = np.array([r["centroid_id"] for r in rows], dtype=np.int32)
    C = np.array([r["cvec"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(C, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    Cu = (C / norms).T  # (dim, k)
    keep = min(n_keep, len(ids))

    @F.pandas_udf("array<int>")
    def nearest(v: pd.Series) -> pd.Series:
        # NULL and EMPTY vectors propagate NULL (np.stack would crash on
        # None, and a (0,)-shaped member breaks the stack/matmul shapes —
        # the old join formulation dropped both via isNotNull semantics)
        mask = np.array(
            [x is not None and len(x) > 0 for x in v], dtype=bool
        )
        tops: list = []
        if mask.any():
            X = np.stack(v[mask].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(X, axis=1, keepdims=True)
            xn[xn == 0] = 1.0
            sims = (X / xn) @ Cu  # (batch, k)
            top = np.argsort(-sims, axis=1, kind="stable")[:, :keep]
            tops = ids[top].tolist()
        it = iter(tops)
        return pd.Series(
            [next(it) if ok else None for ok in mask],
            index=v.index,
            dtype="object",
        )

    return nearest


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "kmeans",
    with_candidates: bool = False,
) -> DataFrame:
    """Approximate top-k: probe the `n_probe` nearest IVF buckets only.

    Scale path for SURVEY §2C similarity search: search cost drops by
    ~n_probe/n_centroids vs brute force; recall is tunable via n_probe and
    validated against :func:`brute_force_topk` in the test suite.

    ``with_candidates=True`` additionally returns the pre-top-k candidate
    set ``(query_id, neighbor_id)`` — the exact scan mass the probe
    touched, which the acceptance contracts use to derive a random-scan
    recall baseline from the data instead of a fixture-tuned constant."""
    cents, assign = ivf_assign(vectors, n_centroids, id_col, vec_col, centroids)
    # which buckets does each query probe? same narrow Arrow pass as
    # assignment — no crossJoin row expansion, no window shuffle
    probes = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.explode(
            nearest_centroids(cents, n_keep=n_probe)(F.col(vec_col))
        ).alias("centroid_id"),
    )
    # members of the probed buckets; norms hoisted per row, not per pair
    members = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("mvec"),
        l2_norm(F.col(vec_col)).alias("_mn"),
    ).join(
        assign.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id"
    )
    scored = (
        members.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("qvec"), F.col("mvec"))
                / F.nullif(F.col("_qn") * F.col("_mn"), F.lit(0.0))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
    if with_candidates:
        return topk, scored.select("query_id", "neighbor_id")
    return topk


def rp_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane (sign) LSH signature: bit i = [vec · plane_i > 0],
    packed into one BIGINT (Charikar, STOC'02 §3).  P[bit agrees] =
    1 − θ/π for vectors at angle θ, so close vectors share long bit
    prefixes.

    Arrow-batched pandas UDF, not builtin folds: n_planes × dim literal
    arrays make a Catalyst expression tree whose analysis/codegen alone
    cost ~16 s at 48×64 (measured), while one numpy matmul per batch is
    milliseconds — the textbook case for a vectorized UDF over a
    hand-unrolled expression.  Deterministic: fixed plane matrix, IEEE
    float64 matmul, strict `> 0` threshold."""
    mat = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)
    weights = (1 << np.arange(mat.shape[0], dtype=np.uint64)).astype(np.uint64)

    @F.pandas_udf("bigint")
    def sig(v: pd.Series) -> pd.Series:
        dense = np.stack(v.to_numpy())  # (batch, dim)
        bits = dense.astype(np.float64) @ mat.T > 0  # (batch, n_planes)
        packed = (bits.astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(packed.astype(np.int64))

    return sig(vec)


def rp_signature_lazy(vec: Column, n_planes: int, seed: int = 42) -> Column:
    """:func:`rp_signature` without the driver-side dimensionality probe:
    the plane matrix is generated INSIDE the Arrow UDF from the first
    batch's vector length.  ``RandomState(seed).normal(size=(n_planes,
    dim))`` is a pure function of (seed, n_planes, dim), so every executor
    materializes the bit-identical matrix the eager path would have — same
    signatures, one Spark job fewer (the ``first()`` probe).  At 100 TB an
    extra job is noise; at interactive scale it is the difference between
    one job and three per ANN call."""
    weights = (1 << np.arange(n_planes, dtype=np.uint64)).astype(np.uint64)
    state: dict[int, np.ndarray] = {}

    @F.pandas_udf("bigint")
    def sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        dense = np.stack(v.to_numpy())  # (batch, dim)
        if state and dense.shape[1] not in state:
            # a mixed-dimensional corpus (bad upstream join, botched
            # fixture regeneration) would otherwise get a SEPARATE plane
            # family per dim whose sign bits are bucketed together as if
            # comparable — silently wrong candidates.  Scope is honest
            # but PARTIAL: `state` lives in the UDF closure, which is
            # re-deserialized per TASK, so only within-task cross-batch
            # mixes raise (within-batch mixes crash in np.stack); dims
            # segregated into different partitions still slip through.
            # The strict option is the eager `dim=` path, which pins one
            # plane family and fails loudly on any matmul shape mismatch.
            raise ValueError(
                f"rp_signature_lazy: vector dim {dense.shape[1]} differs "
                f"from previously seen dim {next(iter(state))} — "
                "mixed-dimensional corpora cannot share one LSH family"
            )
        mat = state.get(dense.shape[1])
        if mat is None:
            mat = np.random.RandomState(seed).normal(
                size=(n_planes, dense.shape[1])
            )
            state[dense.shape[1]] = mat
        bits = dense.astype(np.float64) @ mat.T > 0
        packed = (bits.astype(np.uint64) * weights).sum(axis=1)
        return pd.Series(packed.astype(np.int64))

    return sig(vec)


def rp_band_pairs(
    vectors: DataFrame,
    threshold: float,
    n_planes: int = 16,
    band_bits: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = 500,
    dim: int | None = None,
    with_capped_ids: bool = False,
    with_persist_handle: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame] | tuple[
    DataFrame, DataFrame, DataFrame | None
]:
    """Scale-safe cosine near-pair generation: sign-LSH banding → in-bucket
    ordered-pair expansion → exact cosine rescoring at ``threshold``.

    The all-pairs formulation (self-join on id<id) is O(n²) in vectors and
    dies at 100 TB; here candidates are only pairs sharing at least one
    `band_bits`-wide signature band (Charikar sign-LSH, same family as
    :func:`rp_lsh_topk`), so cost is one wide shuffle (the bucket groupBy)
    plus in-bucket expansion — the embedding-space twin of
    ``minhash_lsh_pairs``.  The signature is computed ONCE per row (bucket
    groupBy, not a self-join: Spark would not reuse the pandas-UDF stage
    across join sides), norms are hoisted per row before bucketing, and
    `max_bucket` caps degenerate buckets the same way the MinHash path does.

    Returns (id_a, id_b, sim) with id_a < id_b, each pair scored by exact
    cosine — LSH affects only recall, never precision.  With
    ``with_capped_ids=True`` also returns the ids whose every ≥2-member
    bucket was dropped by ``max_bucket`` — the rows that *cannot* surface
    in any pair (contract queries subtract them from expected recall so
    the cap tradeoff doesn't read as an operator bug)."""
    if n_planes > 64:
        raise ValueError(
            f"n_planes ({n_planes}) > 64: signatures pack into one BIGINT "
            "and JVM shifts are mod 64, so bands past bit 63 would silently "
            "alias low bits (matching wrong buckets) instead of failing"
        )
    if n_planes % band_bits != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be a multiple of band_bits "
            f"({band_bits}); trailing sign bits would be computed but "
            "never bucketed, silently lowering recall"
        )
    if dim is not None:
        rng = np.random.RandomState(seed)
        sig = rp_signature(
            F.col(vec_col), rng.normal(size=(n_planes, dim)).tolist()
        )
    else:
        sig = rp_signature_lazy(F.col(vec_col), n_planes, seed)
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1
    bands = F.array(
        *[
            F.shiftrightunsigned(sig, b * band_bits).bitwiseAND(
                F.lit(mask).cast("long")
            )
            for b in range(n_bands)
        ]
    )
    banded = vectors.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        l2_norm(F.col(vec_col)).alias("_n"),
        F.posexplode(bands).alias("band_no", "band_val"),
    )
    buckets_all = (
        banded.groupBy("band_no", "band_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("_id", "_vec", "_n"))
            ).alias("_ms")
        )
        .filter(F.size("_ms") > 1)
    )
    if with_capped_ids and max_bucket is not None:
        # same persist rationale as minhash_lsh_pairs: the pair and
        # capped-id branches otherwise each recompute the signature pass
        # and bucket shuffle (the pandas-UDF stage defeats ReuseExchange)
        from pyspark import StorageLevel

        buckets_all = buckets_all.persist(StorageLevel.MEMORY_AND_DISK)
        # eager for the same reason as minhash_lsh_pairs: concurrent
        # broadcast jobs race past a lazy persist
        buckets_all.count()
    buckets = buckets_all
    if max_bucket is not None:
        buckets = buckets_all.filter(F.size("_ms") <= max_bucket)
    ms = F.col("_ms")
    pair_structs = F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, F.size(ms)),
                lambda y: F.struct(x.alias("x"), y.alias("y")),
            ),
        )
    )
    cands = (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(
            F.col("p.x._id").alias("id_a"),
            F.col("p.y._id").alias("id_b"),
            F.col("p.x._vec").alias("_va"),
            F.col("p.y._vec").alias("_vb"),
            F.col("p.x._n").alias("_na"),
            F.col("p.y._n").alias("_nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sim = dot(F.col("_va"), F.col("_vb")) / F.nullif(
        F.col("_na") * F.col("_nb"), F.lit(0.0)
    )
    pairs = (
        cands.select("id_a", "id_b", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )
    if not with_capped_ids:
        if with_persist_handle:
            raise ValueError(
                "with_persist_handle requires with_capped_ids: the bucket "
                "frame is only persisted on the two-branch path, so there "
                "is no handle to return (and silently dropping the flag "
                "would crash the caller's 3-tuple unpacking)"
            )
        return pairs
    if max_bucket is None:
        capped = local_frame(vectors.sparkSession, [], f"{id_col} long")
    else:
        # an id is "fully capped" when every ≥2-member bucket it belongs
        # to was dropped by the cap — no band can surface it in a pair
        capped = (
            buckets_all.select(
                (F.size("_ms") <= max_bucket).cast("int").alias("_u"),
                F.explode("_ms").alias("_m"),
            )
            .groupBy(F.col("_m._id").alias(id_col))
            .agg(F.max("_u").alias("_any_under"))
            .filter(F.col("_any_under") == 0)
            .select(id_col)
        )
    if with_persist_handle:
        handle = buckets_all if max_bucket is not None else None
        return pairs, capped, handle
    return pairs, capped


def rp_lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 16,
    band_bits: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    with_candidates: bool = False,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing: candidates
    are vectors sharing at least one `band_bits`-wide signature band with
    the query; exact cosine rescoring + per-query window top-k.

    ``with_candidates=True`` additionally returns the deduplicated
    candidate set ``(query_id, neighbor_id)`` — the scan mass the band
    join produced, used by the acceptance contracts to derive a
    random-scan recall baseline from the data.

    The hyperplane family is a pure function of (seed, n_planes, dim) —
    deterministic across runs and executors.  With ``dim=`` it is
    driver-generated and enters the plan as literals; without, each
    executor derives it from its first Arrow batch (no probe job).

    Scale: one shuffle on (band_no, band_val); per-bucket fan-in is
    n/2^band_bits in expectation (uniform directions), so band_bits tunes
    the recall/cost point the way n_probe does for IVF — and the candidate
    join never touches vectors outside shared buckets."""
    if n_planes > 64:
        raise ValueError(
            f"n_planes ({n_planes}) > 64: signatures pack into one BIGINT "
            "and JVM shifts are mod 64, so bands past bit 63 would silently "
            "alias low bits (matching wrong buckets) instead of failing"
        )
    if n_planes % band_bits != 0:
        raise ValueError(
            f"n_planes ({n_planes}) must be a multiple of band_bits "
            f"({band_bits}); trailing sign bits would be computed but "
            "never bucketed, silently lowering recall"
        )
    if dim is not None:
        planes = (
            np.random.RandomState(seed).normal(size=(n_planes, dim)).tolist()
        )
    else:
        planes = None
    n_bands = n_planes // band_bits
    mask = (1 << band_bits) - 1

    def with_bands(df: DataFrame, idname: str) -> DataFrame:
        sig = (
            rp_signature(F.col(vec_col), planes)
            if planes is not None
            else rp_signature_lazy(F.col(vec_col), n_planes, seed)
        )
        bands = F.array(
            *[
                F.shiftrightunsigned(sig, b * band_bits)
                .bitwiseAND(F.lit(mask).cast("long"))
                .alias(f"b{b}")
                for b in range(n_bands)
            ]
        )
        return df.select(
            F.col(id_col).alias(idname),
            F.col(vec_col).alias(f"{idname}_vec"),
            F.posexplode(bands).alias("band_no", "band_val"),
        )

    qb = with_bands(queries, "query_id")
    vb = with_bands(vectors, "neighbor_id")
    cands = (
        vb.join(F.broadcast(qb), ["band_no", "band_val"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "query_id_vec", "neighbor_id", "neighbor_id_vec")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("query_id_vec"), F.col("neighbor_id_vec")).alias(
            "cosine_sim"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.select(
            "query_id",
            "neighbor_id",
            "cosine_sim",
            F.row_number().over(w).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= k)
    )
    if with_candidates:
        return topk, cands.select("query_id", "neighbor_id")
    return topk


# --------------------------------------------------------------------------
# Product quantization (PQ) — the ANN memory-compression layer
# --------------------------------------------------------------------------
def _kmeans_euclid(
    X: np.ndarray, k: int, seed: int, max_iter: int = 20
) -> np.ndarray:
    """Plain Lloyd k-means with k-means++ init on raw (sub)vectors —
    the per-subspace trainer for PQ codebooks.  Unlike the spherical
    variant in :func:`kmeans_centroids`, subvectors are NOT unit-norm,
    so assignment is true euclidean argmin.  Deterministic for a fixed
    (X, k, seed)."""
    k = min(k, len(X))
    rs = np.random.RandomState(seed)
    first = int(rs.randint(len(X)))
    cents = [X[first]]
    d2 = ((X - X[first]) ** 2).sum(axis=1)
    for _ in range(k - 1):
        total = d2.sum()
        if total <= 0.0:
            nxt = int(rs.randint(len(X)))
        else:
            nxt = int(rs.choice(len(X), p=d2 / total))
        cents.append(X[nxt])
        d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
    C = np.stack(cents)
    for _ in range(max_iter):
        # ||x-c||² argmin via the expanded form; X·Cᵀ dominates and is BLAS
        d = (X**2).sum(1)[:, None] - 2.0 * (X @ C.T) + (C**2).sum(1)[None, :]
        assign = d.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            members = X[assign == j]
            if len(members):
                newC[j] = members.mean(axis=0)
            else:  # empty cluster → reseed to the worst-served point
                newC[j] = X[int(d.min(axis=1).argmax())]
        if np.allclose(newC, C, atol=1e-9):
            C = newC
            break
        C = newC
    return C


def pq_codebooks(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int | None = None,
    raw_sample: np.ndarray | None = None,
) -> np.ndarray:
    """Train PQ sub-codebooks (Jégou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the
    L2-normalized vector is split into `m` contiguous subspaces and each
    subspace gets its own `ksub`-centroid euclidean codebook, so a vector
    compresses to `m` small codes — m·log2(ksub) bits instead of 4·dim
    bytes (8 bytes vs 256 at dim=64, m=8, ksub=256: 32×).

    Training follows the same constant-cost discipline as
    :func:`kmeans_centroids`: a bounded, hash-ordered, deterministic
    driver-side sample (FAISS-convention ~256·ksub rows cap) — codebook
    quality needs samples-per-centroid, not corpus coverage, so the fit
    never grows with the corpus.  Returns (m, ksub', dsub) float64; dim
    must divide evenly by m."""
    cap = sample_cap or max(4096, 256 * ksub)
    X = (
        raw_sample[:cap]
        if raw_sample is not None
        else _collect_sample(vectors, cap, id_col, vec_col, seed)
    )
    X = _normalize_drop(X)
    if len(X) == 0:
        raise ValueError(
            "pq_codebooks: no trainable vectors — every sampled "
            f"{vec_col!r} is NULL, empty, or zero-norm"
        )
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    dsub = dim // m
    return np.stack(
        [
            _kmeans_euclid(X[:, j * dsub : (j + 1) * dsub], ksub, seed + j)
            for j in range(m)
        ]
    )


def pq_encode(
    vectors: DataFrame,
    books: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode each vector to its `m` PQ codes (array<int>): L2-normalize,
    split into subspaces, per-subspace euclidean argmin against the
    codebook.  One Arrow pass (numpy matmul per batch) — the codebook
    tensor is O(m·ksub·dsub) doubles and rides into executors as a
    closure constant.  NULL/empty/zero-norm vectors are dropped (they
    have no meaningful code), mirroring the IVF bucket semantics."""
    encode = pq_encoder(books)
    return vectors.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) > 0)
        & (l2_norm(F.col(vec_col)) > 0)
    ).select(F.col(id_col), encode(F.col(vec_col)).alias("pq_codes"))


def pq_encoder(books: np.ndarray):
    """The Arrow encode UDF behind :func:`pq_encode`, exposed so callers
    that also need other per-row UDF columns (the IVF-PQ composition)
    can compute codes and bucket in ONE narrow select instead of joining
    two corpus-sized derived frames."""
    m, ksub, dsub = books.shape
    b2 = (books**2).sum(axis=2)  # (m, ksub)

    @F.pandas_udf("array<int>")
    def encode(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy()).astype(np.float64)  # (b, dim)
        X /= np.linalg.norm(X, axis=1, keepdims=True)
        codes = np.empty((len(X), m), dtype=np.int32)
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]  # (b, dsub)
            d = (S**2).sum(1)[:, None] - 2.0 * (S @ books[j].T) + b2[j][None, :]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series(list(codes))

    return encode


def pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    with_candidates: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Approximate top-k via PQ asymmetric distance computation (ADC):
    the corpus is scanned as m-byte codes, each query precomputes an
    (m × ksub) lookup table of subspace inner products, and the
    approximate score is m table gathers + a sum — no float vectors are
    read in the scan.  The ADC top-`n_candidates` per query are then
    rescored with EXACT cosine (fetched by id), so quantization error
    affects only recall, never the reported similarities.

    This is the memory half of IVF-PQ (Jégou et al. 2011): at 100 TB,
    raw float32 embeddings are ~30× the size of their PQ codes — the
    codes fit hot storage/page cache where the vectors cannot, and the
    rescore touches only n_candidates·|queries| full vectors.  Compose
    with the IVF layer (q71) for the full IVF-PQ: probe buckets first,
    ADC-scan inside them.

    Determinism: codebooks are a pure function of (corpus sample, seed),
    LUTs of (query, codebooks), and the ADC sum is a fixed-order numpy
    reduction — same data, same ranking.  Queries are collected
    driver-side (the broadcast-small-side pattern of
    :func:`brute_force_topk` — the query set is bounded by contract)."""
    books = pq_codebooks(
        vectors, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, seed=seed
    )
    codes = pq_encode(vectors, books, id_col=id_col, vec_col=vec_col)

    qrows = [
        r
        for r in queries.select(
            F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
        ).collect()
        if r["_qv"] is not None
        and len(r["_qv"]) > 0
        # zero-norm queries would normalize to NaN lookup tables and
        # silently rank arbitrary candidates (review finding) — drop
        # them like the corpus side's l2_norm > 0 filter does
        and float(np.linalg.norm(r["_qv"])) > 0.0
    ]
    if not qrows:
        raise ValueError(
            "pq_topk: no searchable queries — every query vector is "
            "NULL, empty, or zero-norm"
        )
    qids = [int(r["_qid"]) for r in qrows]
    Q = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    mm, _, dsub = books.shape
    # LUT[q, j, c] = <query_sub_j, codebook_j[c]>  — ADC inner product
    lut = np.stack(
        [Q[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(mm)],
        axis=1,
    )  # (nq, m, ksub)

    @F.pandas_udf("array<double>")
    def adc(codes_s: pd.Series) -> pd.Series:
        C = np.stack(codes_s.to_numpy())  # (b, m)
        # gather per subspace: scores (b, nq) = Σ_j LUT[:, j, C[:, j]]
        scores = np.zeros((len(C), lut.shape[0]), dtype=np.float64)
        for j in range(lut.shape[1]):
            scores += lut[:, j, :][:, C[:, j]].T
        return pd.Series(list(scores))

    scored = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(q).cast("long") for q in qids]).alias("qid"),
                adc(F.col("pq_codes")).alias("adc"),
            )
        ).alias("z"),
    ).select(
        F.col("z.qid").alias("query_id"),
        "neighbor_id",
        F.col("z.adc").alias("adc_score"),
    ).filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    cands = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    # exact rescore of the candidate ids only: narrow semi-join fetch
    nvec = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        l2_norm(F.col(vec_col)).alias("_nn"),
    ).join(F.broadcast(cands), "neighbor_id")
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    rescored = nvec.join(F.broadcast(qdf), "query_id").select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("_qv"), F.col("_nv"))
            / F.nullif(F.col("_qn") * F.col("_nn"), F.lit(0.0))
        ).alias("cosine_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    topk = (
        rescored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
    )
    if with_candidates:
        return topk, cands
    return topk


def ivf_pq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ksub: int = 16,
    n_candidates: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    centroids: str = "kmeans",
    with_candidates: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Full IVF-PQ (Jégou et al., TPAMI 2011): the coarse IVF layer
    (q71) restricts the scan to the `n_probe` nearest centroid buckets,
    the PQ layer (q111) scans those buckets as m-byte codes via ADC
    lookup tables, and the ADC top-`n_candidates` are rescored with
    exact cosine.  The two layers multiply: scan mass drops by
    ~n_probe/n_centroids AND each scanned row is ~30× smaller — the
    composition FAISS ships as `IVFx,PQy`, and the only ANN shape that
    works when 100 TB of embeddings must be searched from disk.

    This variant encodes raw (normalized) vectors rather than
    centroid residuals — residual encoding buys accuracy when
    n_centroids is large (vectors cluster tightly); at coarse
    n_centroids the simpler form keeps the codebooks shared across
    buckets and the contract identical to q111's.

    Scale: codebook + centroid training are both bounded driver-side
    samples (constant in corpus size); the bucket restriction is a
    broadcast hash join on centroid_id; the ADC pass reads only codes;
    the exact rescore touches n_candidates·|queries| full vectors."""
    # ONE hash-ordered sample sweep serves both trainers (each slices to
    # its own cap, bit-identical to an independent collect — second-pass
    # review finding: the duplicated TakeOrdered doubled pre-search I/O)
    shared_cap = max(4096, 256 * n_centroids, 256 * ksub)
    raw = _collect_sample(vectors, shared_cap, id_col, vec_col, seed)
    if centroids == "kmeans":
        cents = kmeans_centroids(
            vectors, n_centroids, vec_col=vec_col, seed=seed,
            id_col=id_col, raw_sample=raw,
        )
    else:
        cents, _ = ivf_assign(
            vectors, n_centroids, id_col, vec_col, centroids, seed=seed
        )
    books = pq_codebooks(
        vectors, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col, seed=seed,
        raw_sample=raw,
    )
    # codes AND bucket in ONE narrow select (two Arrow UDFs on the same
    # row) — a join of two corpus-sized derived frames would shuffle the
    # whole corpus just to reunite columns born from the same row
    encode = pq_encoder(books)
    codes = vectors.filter(
        F.col(vec_col).isNotNull()
        & (F.size(F.col(vec_col)) > 0)
        & (l2_norm(F.col(vec_col)) > 0)
    ).select(
        F.col(id_col),
        encode(F.col(vec_col)).alias("pq_codes"),
        nearest_centroids(cents, n_keep=1)(F.col(vec_col))[0].alias(
            "_bucket"
        ),
    )

    qrows = [
        r
        for r in queries.select(
            F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
        ).collect()
        if r["_qv"] is not None
        and len(r["_qv"]) > 0
        # zero-norm queries would normalize to NaN lookup tables and
        # silently rank arbitrary candidates (review finding) — drop
        # them like the corpus side's l2_norm > 0 filter does
        and float(np.linalg.norm(r["_qv"])) > 0.0
    ]
    if not qrows:
        raise ValueError(
            "ivf_pq_topk: no searchable queries — every query vector is "
            "NULL, empty, or zero-norm"
        )
    qids = [int(r["_qid"]) for r in qrows]
    Q = np.array([r["_qv"] for r in qrows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)
    dsub = books.shape[2]
    lut = np.stack(
        [Q[:, j * dsub : (j + 1) * dsub] @ books[j].T for j in range(m)],
        axis=1,
    )  # (nq, m, ksub)
    qpos = {q: i for i, q in enumerate(qids)}

    # probes must cover EXACTLY the filtered qids: a degenerate query
    # that survived into probes would reach adc_pair with no qpos entry
    # (NaN index → task crash, second-pass review finding)
    probes = queries.filter(F.col(id_col).isin(qids)).select(
        F.col(id_col).alias("query_id"),
        F.explode(
            nearest_centroids(cents, n_keep=n_probe)(F.col(vec_col))
        ).alias("_bucket"),
    )
    # bucket-restricted candidates: (query_id, neighbor_id, pq_codes)
    in_bucket = codes.join(F.broadcast(probes), "_bucket").filter(
        F.col(id_col) != F.col("query_id")
    )

    @F.pandas_udf("double")
    def adc_pair(codes_s: pd.Series, qid_s: pd.Series) -> pd.Series:
        C = np.stack(codes_s.to_numpy())  # (b, m)
        qi = qid_s.map(qpos).to_numpy(dtype=np.int64)  # (b,)
        scores = np.zeros(len(C), dtype=np.float64)
        for j in range(m):
            scores += lut[qi, j, C[:, j]]
        return pd.Series(scores)

    scored = in_bucket.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        adc_pair(F.col("pq_codes"), F.col("query_id")).alias("adc_score"),
    ).dropDuplicates(["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_score").desc(), F.col("neighbor_id")
    )
    cands = (
        scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= n_candidates)
        .select("query_id", "neighbor_id")
    )
    nvec = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        l2_norm(F.col(vec_col)).alias("_nn"),
    ).join(F.broadcast(cands), "neighbor_id")
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    rescored = nvec.join(F.broadcast(qdf), "query_id").select(
        "query_id",
        "neighbor_id",
        (
            dot(F.col("_qv"), F.col("_nv"))
            / F.nullif(F.col("_qn") * F.col("_nn"), F.lit(0.0))
        ).alias("cosine_sim"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id")
    )
    topk = (
        rescored.withColumn("rank", F.row_number().over(w2).cast("long"))
        .filter(F.col("rank") <= k)
    )
    if with_candidates:
        return topk, cands
    return topk
