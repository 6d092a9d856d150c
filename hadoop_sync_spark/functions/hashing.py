"""Hash-family machinery for near-duplicate detection: MinHash, SimHash.

All JVM-side builtins (xxhash64, higher-order array lambdas) — no Python in
the per-row path.  Long arithmetic deliberately exploits Java's wrapping
overflow (deterministic, fine for hashing).

MinHash background: Broder, "On the resemblance and containment of
documents" (1997); banding/LSH analysis per Leskovec-Rajaraman-Ullman,
*Mining of Massive Datasets* ch.3 (public course text).
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from hadoop_sync_spark.io import local_frame

# deterministic odd multipliers/offsets for the permutation family
# h_i(x) = a_i * x + b_i  (mod 2^64, wrapping) — standard multiply-shift family
_MASK = (1 << 63) - 1


def _perm_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k (a, b) pairs derived from a splitmix64-style recurrence — pure
    Python ints, computed once on the driver."""
    params = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(k):
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        z = state
        z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        a = (z | 1) & 0xFFFFFFFFFFFFFFFF  # odd → bijective mod 2^64
        state = (state + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        b = state
        params.append((_signed(a), _signed(b)))
    return params


def _signed(u: int) -> int:
    """Unsigned 64-bit → Java signed long (two's complement)."""
    return u - (1 << 64) if u >= (1 << 63) else u


def element_hashes(items: Column) -> Column:
    """xxhash64 of each array element → array<bigint>, fully JVM-side."""
    return F.transform(items, lambda x: F.xxhash64(x))


def minhash_signature_builtin(items: Column, k: int = 32, seed: int = 42) -> Column:
    """MinHash signature (array<bigint>, length k) of an array<string>,
    pure-builtin formulation: fold the item array once, keeping the
    element-wise minimum of the k permuted hashes.  Empty arrays yield the
    max-long sentinel signature (never collides with real content).

    Kept as the semantic reference: higher-order array lambdas are
    interpreted (no whole-stage codegen), so the Arrow path in
    :func:`minhash_signature` is ~20× faster at equal output.

    Requires NON-ANSI (wraparound) arithmetic: the affine permutation is
    `(a·h + b) mod 2^64`, which ANSI mode traps as long overflow.  The
    production Arrow path computes the same wraparound in numpy uint64
    and is ANSI-clean — only this reference needs the lenient conf (the
    bit-identical test toggles it around the comparison).
    """
    params = _perm_params(k, seed)
    init = F.array(*[F.lit(0x7FFFFFFFFFFFFFFF).cast("long") for _ in range(k)])

    def step(acc: Column, x: Column) -> Column:
        h = F.xxhash64(x)
        hashes = F.array(
            *[
                (F.lit(a).cast("long") * h + F.lit(b).cast("long"))
                .bitwiseAND(F.lit(_MASK).cast("long"))
                for a, b in params
            ]
        )
        return F.zip_with(acc, hashes, lambda m, v: F.least(m, v))

    return F.aggregate(items, init, step)


_MINHASH_UDF_CACHE: dict = {}

#: Per-chunk flat-hash caps for the vectorized UDF folds: chosen so the
#: per-task working set stays ~64-128 MB whatever the Arrow batch shape
#: (simhash builds a 64-byte/hash uint8 bit matrix, minhash a k×8-byte
#: permuted-product matrix).  Chunks align to doc boundaries, so the
#: Python loop runs once per ~megabyte, not once per document.
_SIMHASH_CHUNK = 1 << 20
_MINHASH_CHUNK = 1 << 19


def _doc_chunks(ne_idx: np.ndarray, lens: np.ndarray, chunk: int):
    """Yield slices of ``ne_idx`` whose total ``lens`` stays ≤ ``chunk``
    (a single over-long doc forms its own slice) — the doc-aligned
    chunking both vectorized folds share."""
    pos = 0
    while pos < ne_idx.size:
        end, tot = pos, 0
        while end < ne_idx.size and (
            tot == 0 or tot + lens[ne_idx[end]] <= chunk
        ):
            tot += lens[ne_idx[end]]
            end += 1
        yield ne_idx[pos:end]
        pos = end


def _minhash_fold(
    hashes: pd.Series,
    a_vec: np.ndarray,
    b_vec: np.ndarray,
    sentinel: np.ndarray,
    chunk: int,
) -> pd.Series:
    """The minhash fold body, directly callable for chunk-boundary tests
    (the UDF's worker processes re-import this module, so monkeypatching
    the chunk constant cannot reach them — tests call this instead)."""
    mask = np.uint64(_MASK)
    out = np.empty(len(hashes), dtype=object)
    isnull = hashes.isna().to_numpy()
    lens = np.array(
        [0 if n else len(h) for h, n in zip(hashes, isnull)],
        dtype=np.int64,
    )
    for i in np.flatnonzero(isnull):
        # builtin reference propagates NULL for a NULL array; only a
        # genuinely EMPTY doc gets the sentinel
        out[i] = None
    for i in np.flatnonzero(~isnull & (lens == 0)):
        out[i] = sentinel
    ne_idx = np.flatnonzero(lens > 0)
    with np.errstate(over="ignore"):
        for idx in _doc_chunks(ne_idx, lens, chunk):
            flat = np.concatenate(
                [np.asarray(hashes.iat[i], dtype=np.int64) for i in idx]
            ).view(np.uint64)
            starts = np.zeros(idx.size, dtype=np.int64)
            np.cumsum(lens[idx][:-1], out=starts[1:])
            # (k, chunk_total) permuted-hash matrix; per-doc min fold
            prod = (a_vec[:, None] * flat[None, :] + b_vec[:, None]) & mask
            sig = np.minimum.reduceat(prod, starts, axis=1)  # (k, docs)
            sigs = sig.astype(np.int64).T
            for j, i in enumerate(idx):
                out[i] = sigs[j]
    return pd.Series(list(out))


def _minhash_arrow_udf(k: int, seed: int):
    """Arrow-batched pandas UDF: array<bigint> element hashes → length-k
    MinHash signature.  numpy uint64 arithmetic wraps mod 2^64 exactly like
    Java long arithmetic, so outputs are bit-identical to the builtin fold
    (asserted in tests/test_dedup.py).

    Vectorized per Arrow batch, CHUNKED on doc boundaries (the simhash-UDF
    pattern): the old per-row loop built a (k, n) permuted matrix per
    DOCUMENT — ~10k Python iterations per batch, interpreter-bound on
    short docs.  One (k, chunk_total) matrix + np.minimum.reduceat per
    ≤2^19-hash chunk does the same fold batch-wide at ≤128 MB peak."""
    key = (k, seed)
    if key in _MINHASH_UDF_CACHE:
        return _MINHASH_UDF_CACHE[key]

    params = _perm_params(k, seed)
    a_vec = np.array([a % (1 << 64) for a, _ in params], dtype=np.uint64)
    b_vec = np.array([b % (1 << 64) for _, b in params], dtype=np.uint64)
    sentinel = np.full(k, 0x7FFFFFFFFFFFFFFF, dtype=np.int64)

    @F.pandas_udf("array<bigint>")
    def mh(hashes: pd.Series) -> pd.Series:
        return _minhash_fold(hashes, a_vec, b_vec, sentinel, _MINHASH_CHUNK)

    # Output IS deterministic; the flag is a Catalyst optimizer barrier.
    # Without it, a filter on the signature column gets pushed below the
    # upstream exchange and Spark DUPLICATES the whole UDF subtree to
    # evaluate the predicate pre-shuffle — measured as an extra full
    # signature pass on the narrow pre-repartition partition (8× slowdown).
    mh = mh.asNondeterministic()
    _MINHASH_UDF_CACHE[key] = mh
    return mh


def minhash_signature(items: Column, k: int = 32, seed: int = 42) -> Column:
    """MinHash signature (array<bigint>, length k) of an array<string>.

    Two-stage split keeps the per-element hashing JVM-side (codegen'd
    ``xxhash64`` inside ``transform``) and moves only the k-permutation
    min-fold to a vectorized Arrow batch (numpy matrix min) — the fold is
    where the interpreted higher-order-function path burns time.  Output is
    bit-identical to :func:`minhash_signature_builtin`.
    """
    return _minhash_arrow_udf(k, seed)(element_hashes(items))


def lsh_band_keys(signature: Column, bands: int, rows: int) -> Column:
    """Band the signature for LSH: array of `bands` hashes, one per band of
    `rows` signature slots.  Two docs collide in a band iff that band of
    their signatures is identical — the classic (b, r) S-curve."""
    return F.array(
        *[
            F.xxhash64(
                F.lit(band), F.array_join(F.slice(signature, band * rows + 1, rows), ",")
            )
            for band in range(bands)
        ]
    )


def simhash64_builtin(items: Column) -> Column:
    """64-bit SimHash (Charikar 2002) of an array<string> → BIGINT, pure
    builtins.  Single fold: accumulate a 64-slot counter array (+1/−1 per
    bit of each item's xxhash64), then assemble the sign bits.

    Semantic reference for the Arrow path in :func:`simhash64` (interpreted
    HOF fold — slow on wide state)."""
    init = F.array(*[F.lit(0).cast("long") for _ in range(64)])

    def step(acc: Column, x: Column) -> Column:
        h = F.xxhash64(x)
        # shift amounts must be Python ints in PySpark → unroll driver-side
        bits = F.array(
            *[
                F.shiftright(h, j).bitwiseAND(F.lit(1).cast("long")) * 2 - 1
                for j in range(64)
            ]
        )
        return F.zip_with(acc, bits, lambda a, b: a + b)

    counts = F.aggregate(items, init, step)
    out = F.lit(0).cast("long")
    for j in range(64):
        out = out.bitwiseOR(
            F.when(
                F.element_at(counts, j + 1) > 0,
                F.lit(_signed(1 << j)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    return out


_SIMHASH_UDF = None


def _simhash_fold(
    hashes: pd.Series, shifts: np.ndarray, chunk: int
) -> pd.Series:
    """The simhash fold body, directly callable for chunk-boundary tests
    (see :func:`_minhash_fold`).

    Chunked on doc boundaries: the old one-shot form materialized a
    (total_hashes, 64) uint64 shift matrix — 512 bytes per token hash,
    gigabytes per batch on a 10× corpus (measured as a 16 s bucket build
    at 50k docs, pure allocator thrash).  unpackbits gives the same bit
    matrix in uint8 (64 B/hash; little-endian byte view ↔
    bitorder='little' matches the >>shift bit indexing), and the
    ≤2^20-hash chunks cap peak memory at ~64 MB whatever the batch
    shape."""
    isnull = hashes.isna().to_numpy()
    lens = np.array(
        [0 if n else len(h) for h, n in zip(hashes, isnull)],
        dtype=np.int64,
    )
    out = np.zeros(len(hashes), dtype=np.int64)
    ne_idx = np.flatnonzero(lens > 0)
    for idx in _doc_chunks(ne_idx, lens, chunk):
        flat = np.concatenate(
            [np.asarray(hashes.iat[i], dtype=np.int64) for i in idx]
        )
        if sys.byteorder == "big":
            # the uint8 view + bitorder='little' bit indexing assumes
            # little-endian int64 layout (every x86/arm worker); the old
            # shift-based fold was endianness-agnostic, so keep that
            # property rather than silently mis-mapping bit columns
            flat = flat.byteswap()
        bits = np.unpackbits(
            flat.view(np.uint8), bitorder="little"
        ).reshape(-1, 64)
        starts = np.zeros(idx.size, dtype=np.int64)
        np.cumsum(lens[idx][:-1], out=starts[1:])
        ones = np.add.reduceat(
            bits, starts, axis=0, dtype=np.int64
        )  # (docs, 64)
        # bit j set iff ones > n/2 (count > 0 in ±1 terms)
        sig_bits = (2 * ones > lens[idx, None]).astype(np.uint64)
        out[idx] = (sig_bits << shifts).sum(
            axis=1, dtype=np.uint64
        ).astype(np.int64)
    res = pd.Series(out, dtype="object", index=hashes.index)
    res[isnull] = None  # builtin reference propagates NULL for NULL array
    return res


def _simhash_arrow_udf():
    """Arrow-batched pandas UDF: array<bigint> element hashes → SimHash.
    Bit-identical to the builtin fold (majority vote per bit, strict >0)."""
    global _SIMHASH_UDF
    if _SIMHASH_UDF is not None:
        return _SIMHASH_UDF

    shifts = np.arange(64, dtype=np.uint64)

    @F.pandas_udf("bigint")
    def sh(hashes: pd.Series) -> pd.Series:
        return _simhash_fold(hashes, shifts, _SIMHASH_CHUNK)

    # deterministic output; flag is a pushdown barrier (see _minhash_arrow_udf)
    sh = sh.asNondeterministic()
    _SIMHASH_UDF = sh
    return sh


def simhash64(items: Column) -> Column:
    """64-bit SimHash (Charikar 2002) of an array<string> → BIGINT.

    JVM-side per-element xxhash64 (codegen'd) + vectorized Arrow bit-count
    fold.  No shuffle; safe to run on every document of a 100 TB corpus.
    Output bit-identical to :func:`simhash64_builtin`.
    """
    return _simhash_arrow_udf()(element_hashes(items))


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit SimHashes (BIGINT)."""
    return F.bit_count(a.bitwiseXOR(b)).cast("long")


# The LSH pipeline's internal Column trees (fixed internal names
# _id/_items/_sig/_band/_bkey/_ms) are memoized via the process-wide
# hadoop_sync_spark.memoize.expr_memo (round 14 — previously a
# module-local dict): building them costs ~0.7 s of py4j round-trips
# per call (the nested pair-expansion lambdas alone; profiled at ~3k
# gateway messages per q63 run).  See memoize.py for the Column-only
# rule, the SparkContext keying, and the collision tripwire.
from hadoop_sync_spark.memoize import closure_fingerprint, expr_memo


def _est_expr(sa: Column, sb: Column, k: int) -> Column:
    """Matching-slot fraction of two k-slot signatures — evaluated inside
    the pair lambda so the flattened intermediate carries (id, id, est)
    instead of two full k-slot signatures per candidate pair (guide §2.3:
    project before the expansion; the signatures are dead weight past
    that point)."""
    return F.size(
        F.filter(F.zip_with(sa, sb, lambda a, b: a == b), lambda x: x)
    ).cast("double") / F.lit(float(k))


def _lsh_exprs(k: int, bands: int, rows: int, seed: int,
               items_hashed: bool) -> dict:
    def _build() -> dict:
        sig_raw = (
            _minhash_arrow_udf(k, seed)(F.col("_items"))
            if items_hashed
            else minhash_signature(F.col("_items"), k=k, seed=seed)
        )

        def _est(sa, sb):
            return _est_expr(sa, sb, k)

        ms = F.col("_ms")
        pair_structs = F.flatten(
            F.transform(
                ms,
                lambda x, i: F.transform(
                    F.slice(ms, i + 2, F.size(ms)),
                    lambda y: F.struct(
                        x["_id"].alias("id_a"),
                        y["_id"].alias("id_b"),
                        _est(x["_sig"], y["_sig"]).alias("est_jaccard"),
                    ),
                ),
            )
        )
        return {
            "sig": sig_raw.alias("_sig"),
            "sentinel_keep": (
                F.element_at("_sig", 1)
                != F.lit(0x7FFFFFFFFFFFFFFF).cast("long")
            ),
            "banded": F.posexplode(
                lsh_band_keys(F.col("_sig"), bands, rows)
            ).alias("_band", "_bkey"),
            "bucket_agg": F.array_sort(
                F.collect_list(F.struct("_id", "_sig"))
            ).alias("_ms"),
            "multi_member": F.size("_ms") > 1,
            "pair_explode": F.explode(pair_structs).alias("p"),
        }

    return expr_memo(
        "functions.hashing._lsh_exprs",
        (k, bands, rows, seed, items_hashed),
        _build,
    )


def tagged_bucket_exprs(
    id_field: str,
    payload_name: str,
    payload_of,
    max_bucket: int,
    a_name: str,
    b_name: str,
) -> dict:
    """Column trees for the FUSED pair+capped derivation (round 13),
    shared by the MinHash path (est_jaccard payload) and q66's SimHash
    block path (hamming payload).  One generator over each `_ms` bucket
    row emits BOTH the candidate-pair structs (tag 0 — built over an
    emptied member array for over-cap buckets, so the quadratic
    expansion never evaluates there) and one member struct per bucket
    member (tag 1, every bucket, carrying the bucket's under-cap flag).
    A single groupBy over the tagged rows then yields the distinct
    pairs (tag-0 groups: grouping on (a, b, payload) IS the old
    .distinct()) and the fully-capped ids (tag-1 groups whose
    max(_under)=0) — one pass and one exchange where the unfused form
    paid a pair-distinct shuffle plus a separate member-explode groupBy
    against a persisted bucket frame.

    Types are DERIVED, never pinned: the member struct's null id/payload
    slots are `when(lit(false), <the real expression>)`, so they carry
    exactly the pair struct's types whatever the caller's id column or
    payload type is (a hand-written DDL here silently widened int ids to
    bigint on one path only — round-13 review finding).

    The memo key is DERIVED from every functional parameter — including
    ``payload_of``'s code object and captured constants (its
    :func:`closure_fingerprint`) — so an edited payload or cap can never
    be served a stale expression tree (the round-13 form trusted a
    caller-supplied opaque key; ADVICE r13)."""

    def _build() -> dict:
        ms = F.col("_ms")
        under_b = F.size(ms) <= max_bucket
        # over-cap buckets expand an EMPTY member list (slice(ms, 1, 0)
        # is a zero-length array of ms's own element type) — no
        # typed-empty literal, no expansion cost on the capped buckets
        src_ms = F.when(under_b, ms).otherwise(F.slice(ms, 1, 0))
        pair_structs = F.flatten(
            F.transform(
                src_ms,
                lambda x, i: F.transform(
                    F.slice(src_ms, i + 2, F.size(src_ms)),
                    lambda y: F.struct(
                        x[id_field].alias(a_name),
                        y[id_field].alias(b_name),
                        payload_of(x, y).alias(payload_name),
                        F.lit(0).alias("_tag"),
                        F.lit(1).alias("_under"),
                    ),
                ),
            )
        )
        member_structs = F.transform(
            ms,
            lambda m: F.struct(
                m[id_field].alias(a_name),
                F.when(F.lit(False), m[id_field]).alias(b_name),
                F.when(F.lit(False), payload_of(m, m)).alias(payload_name),
                F.lit(1).alias("_tag"),
                under_b.cast("int").alias("_under"),
            ),
        )
        return {
            "tagged_explode": F.explode(
                F.concat(pair_structs, member_structs)
            ).alias("p"),
            "group_keys": [
                F.col(f"p.{a_name}").alias(a_name),
                F.col(f"p.{b_name}").alias(b_name),
                F.col(f"p.{payload_name}").alias(payload_name),
                F.col("p._tag").alias("_tag"),
            ],
            "group_agg": F.max("p._under").alias("_any_under"),
            "is_pair": F.col("_tag") == 0,
            "is_fully_capped": (
                (F.col("_tag") == 1) & (F.col("_any_under") == 0)
            ),
        }

    return expr_memo(
        "functions.hashing.tagged_bucket_exprs",
        (id_field, payload_name, closure_fingerprint(payload_of),
         max_bucket, a_name, b_name),
        _build,
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    items_col: str,
    k: int = 32,
    bands: int = 8,
    seed: int = 42,
    max_bucket: int | None = 500,
    parallelism: int | None = None,
    with_capped_ids: bool = False,
    with_persist_handle: bool = False,
    eager_cache: bool = True,
    items_hashed: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame] | tuple[
    DataFrame, DataFrame, DataFrame | None
]:
    """Candidate near-duplicate pairs via MinHash-LSH banding.

    Pipeline: signature (narrow, computed ONCE) → explode band keys →
    groupBy (band, key) bucket → in-bucket ordered-pair expansion (narrow,
    nested array transform) → distinct.

    Scale: exactly one wide shuffle (the bucket groupBy) plus the final
    distinct — the "join only within buckets" trick that turns O(n²) pair
    generation into O(n·b + collisions), without the self-join formulation's
    duplicated signature computation (Spark does not reuse the exchange
    across the two join sides when a Python-UDF stage feeds it).  Empty item
    sets are dropped up front: their sentinel signatures would otherwise
    all collide into one quadratic mega-bucket.  `max_bucket` caps bucket
    width as a skew guard — a degenerate corpus (boilerplate-heavy crawl)
    can otherwise form one quadratic mega-bucket; dropping an over-wide
    bucket loses only candidates that other bands still surface, the
    standard LSH skew tradeoff.  Pass None to uncap.

    With ``with_capped_ids=True`` also returns the ids whose every
    ≥2-member bucket was dropped by the cap — rows that *cannot* appear
    in any pair; contract queries subtract them from expected recall so
    the documented cap tradeoff doesn't read as an operator bug.  That
    path derives pairs and capped ids from ONE fused tagged generator
    (see :func:`tagged_bucket_exprs`) whose grouped output is persisted
    and ALWAYS materialized eagerly — ``eager_cache`` is ignored there:
    its False setting served the old tripwire-broadcast contract whose
    single-first-consumer guarantee no longer exists, and a lazy persist
    would let the two consumers race and recompute the signature
    pipeline twice.  ``with_persist_handle=True`` additionally returns
    the internally persisted frame (or None) so a caller that
    MATERIALIZES its result can unpersist it — otherwise the cache lives
    until session shutdown (the contract queries' pattern).

    ``items_hashed=True`` declares that ``items_col`` already holds the
    per-element ``xxhash64`` values (``element_hashes`` applied AFTER the
    empty-string strip) instead of raw string items — the caller computed
    them once into a cache shared with other passes, so re-hashing here
    would be redundant work and the string arrays a needlessly fat cache
    (guide §2.3: cache/shuffle the narrow proxy, not the payload).  The
    signature fold is bit-identical either way (same hash values reach
    the same Arrow fold); asserted in tests/test_dedup.py.
    """
    if bands < 1 or bands > k or k % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide k ({k}): bands > k collapses "
            "every band key to a constant (one quadratic mega-bucket); "
            "k % bands != 0 silently drops trailing signature slots"
        )
    rows = k // bands
    # strip empty-string items: a whitespace-only document tokenizes to
    # [""], which would make every blank doc an exact "duplicate" of every
    # other blank doc — a quadratic mega-bucket of meaningless pairs
    # (items_hashed inputs had the strip applied before hashing)
    src = df.select(
        F.col(id_col).alias("_id"),
        (
            F.col(items_col)
            if items_hashed
            else F.array_remove(F.col(items_col), "")
        ).alias("_items"),
    )
    # `parallelism`: explicit repartition width for narrow inputs (a single
    # small parquet file arrives as 1 partition, serializing the signature
    # pass).  Deliberately NOT auto-detected: df.rdd.getNumPartitions()
    # under AQE materializes upstream shuffle stages just to count
    # partitions — an entire wasted pass.  Callers on hot paths should
    # instead repartition BEFORE computing the item arrays (see q63) so
    # the array build is parallel too, and leave this None.
    if parallelism is not None:
        src = src.repartition(parallelism, "_id")
    # Empty item sets are dropped AFTER the signature, by their sentinel
    # slot: a size()>0 predicate here would be pushed below the projection,
    # re-inlining the item-array expression into the filter (computed
    # twice); the sentinel test can't cross the Arrow stage.
    ex_ = _lsh_exprs(k, bands, rows, seed, items_hashed)
    sig = src.select("_id", ex_["sig"]).filter(ex_["sentinel_keep"])
    banded = sig.select("_id", "_sig", ex_["banded"])
    buckets_all = (
        banded.groupBy("_band", "_bkey")
        .agg(ex_["bucket_agg"])
        .filter(ex_["multi_member"])
    )
    if with_capped_ids and max_bucket is not None:
        # FUSED pair+capped derivation (round 13): one tagged generator
        # over each bucket row emits the candidate-pair structs AND the
        # per-member rows, and a single groupBy yields both the distinct
        # pairs (tag 0: grouping on (id_a, id_b, est) IS the old
        # .distinct()) and the fully-capped ids (tag 1: ids whose every
        # ≥2-member bucket was over the cap — max of the bucket under-cap
        # flags is 0).  The unfused form persisted the bucket frame and
        # re-scanned it from two downstream branches through two separate
        # exchanges (pair distinct + member groupBy); this is one scan and
        # one exchange.  The persisted frame is now the grouped output
        # `g` — smaller than the bucket frame (no signatures), and the
        # standard materialization point of a production LSH pipeline
        # (MEMORY_AND_DISK, evicted LRU, never required for correctness).
        tx = tagged_bucket_exprs(
            "_id",
            "est_jaccard",
            lambda x, y: _est_expr(x["_sig"], y["_sig"], k),
            max_bucket,
            "id_a",
            "id_b",
        )
        from pyspark import StorageLevel

        # NOTE (round 14, measured): do NOT coalesce `g` before the
        # persist to shrink its 32 tiny cached partitions — interleaved
        # same-boot A/B of coalesce(4) vs none was a tie inside the
        # ambient band (medians 2.56/2.75/4.11 vs 2.92/2.84/3.61 across
        # three alternating passes): the consumer stages' 32 trivial
        # cache-read tasks cost launch overhead only, while a fixed
        # coalesce narrows the aggregation's merge parallelism at scale.
        g = (
            buckets_all.select(tx["tagged_explode"])
            .groupBy(*tx["group_keys"])
            .agg(tx["group_agg"])
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # ALWAYS eager on this path (eager_cache is ignored here, see
        # docstring): the two g-consumers (pairs + capped) surface as
        # concurrent subtrees of the caller's one collect job; a lazy
        # persist would let them race and each compute the full signature
        # pipeline — the eager_cache=False escape hatch existed for the
        # old tripwire-broadcast structure, whose single-first-consumer
        # guarantee no longer exists.
        g.count()
        pairs = g.filter(tx["is_pair"]).select(
            "id_a", "id_b", "est_jaccard"
        )
        capped = g.filter(tx["is_fully_capped"]).select("id_a")
        if with_persist_handle:
            return pairs, capped, g
        return pairs, capped
    buckets = buckets_all
    if max_bucket is not None:
        buckets = buckets_all.filter(F.size("_ms") <= max_bucket)
    pairs = (
        buckets.select(ex_["pair_explode"])
        .select("p.id_a", "p.id_b", "p.est_jaccard")
        .distinct()
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
    # max_bucket is None: nothing can be capped
    capped = local_frame(df.sparkSession, [], "id_a long")
    if with_persist_handle:
        return pairs, capped, None
    return pairs, capped


# --------------------------------------------------------------------------
# Bloom filter membership index (incremental-dedup scale path)
# --------------------------------------------------------------------------
def build_bloom_bits(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Build a Bloom filter over a key column as a packed numpy bit array
    (m_bits/8 bytes — 128 KB at the default size, CONSTANT in corpus
    size).  Each key sets `n_hashes` bits at `xxhash64(i·seed', key) mod
    m_bits`; the distributed side ships only the DISTINCT set positions
    (≤ m_bits rows by construction — the exchange is bounded by the
    filter size, never the corpus), and the driver packs them.

    This is the maintainable membership index for incremental pipelines:
    built once per corpus snapshot (or unioned monotonically across
    appends — Bloom bits only ever turn on), probed per batch without
    touching the corpus.  False positives are a cost knob (they trigger
    exact confirmation), never a correctness one; false negatives are
    impossible, so a negative probe is PROOF of novelty.

    NULL keys are EXCLUDED from the filter: ``xxhash64`` skips a NULL
    argument, so a NULL key would otherwise hash to one fixed position
    set — every NULL "present" — while downstream null-unsafe equi-joins
    silently drop the same rows (round-3 advice).  The membership
    contract is three-valued: :func:`bloom_might_contain` propagates
    NULL for NULL keys, and callers decide the null policy explicitly."""
    keys = keys.filter(F.col(key_col).isNotNull())
    pos_arrays = F.array(
        *[
            F.pmod(
                F.xxhash64(F.lit(i * 1_000_003 + seed), F.col(key_col)),
                F.lit(m_bits),
            )
            for i in range(n_hashes)
        ]
    )
    rows = (
        keys.select(F.explode(pos_arrays).alias("pos"))
        .distinct()
        .collect()
    )
    bits = np.zeros(m_bits, dtype=bool)
    if rows:
        bits[np.array([r["pos"] for r in rows], dtype=np.int64)] = True
    return np.packbits(bits)


def bloom_might_contain(
    packed: np.ndarray,
    m_bits: int = 1 << 20,
    n_hashes: int = 5,
    seed: int = 42,
):
    """Return a Column-function probing :func:`build_bloom_bits` output:
    TRUE iff every hash position is set.  The packed filter rides into
    executors as a closure constant (the broadcast-small-side pattern);
    probing stays JVM-side for the hash columns and crosses to one
    Arrow-batched numpy gather for the bit test."""
    bits = np.unpackbits(packed).astype(bool)

    @F.pandas_udf("boolean")
    def probe(*pos_cols: pd.Series) -> pd.Series:
        out = np.ones(len(pos_cols[0]), dtype=bool)
        for p in pos_cols:
            out &= bits[p.to_numpy(dtype=np.int64)]
        return pd.Series(out)

    def apply(key: Column) -> Column:
        # Three-valued membership: NULL key → NULL (unknown), matching the
        # builder's NULL exclusion — a NULL must never probe 'maybe' via
        # xxhash64's skip-NULL-argument behavior and then vanish in a
        # null-unsafe confirm join
        return F.when(
            key.isNull(), F.lit(None).cast("boolean")
        ).otherwise(
            probe(
                *[
                    F.pmod(
                        F.xxhash64(F.lit(i * 1_000_003 + seed), key),
                        F.lit(m_bits),
                    )
                    for i in range(n_hashes)
                ]
            )
        )

    return apply
