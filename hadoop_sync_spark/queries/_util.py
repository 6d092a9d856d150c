"""Shared helpers for query implementations: exact-parity numeric idioms."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from hadoop_sync_spark.io import load_table, local_frame

#: Exact-aggregation discipline: every fixture money/rate column carries
#: exactly 2 fraction digits, so ``ROUND(x*100)`` recovers the exact scaled
#: integer in BOTH engines (the product lands within ~1e-9 of an integer, so
#: any tie-break mode agrees, and ROUND's integral output casts to BIGINT
#: identically despite Spark truncating and DuckDB rounding that cast).
#: Summing BIGINTs is exact and reduction-order-independent, the final
#: ``CAST(sum AS DOUBLE) / 10^scale`` applies IEEE ops to identical scalars
#: on both sides — bit-identical hashes — and long sums stay inside Spark's
#: whole-stage codegen, unlike Decimal128 aggregation (measured 5× slower
#: on the flagship query).
#:
#: Overflow headroom: worst fixture term is a scale-6 three-factor product
#: (≤ ~1.1e12/row), giving > 8e6 rows of headroom under int64 at sf0.1 and
#: a documented ceiling of ~sf100 per partition-group before a wider
#: accumulator (or per-group decimal fallback) is needed.
SCALE2 = 100


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def memo(key, builder):
    """Column-tree memo for the query modules (round 13; hardened round
    14 — see :mod:`hadoop_sync_spark.memoize` for the full rationale,
    the SparkContext keying, and the collision tripwire).  Expressions
    only — never pass a DataFrame-producing builder: reusing a DataFrame
    across bench runs would let Spark skip recomputed shuffle stages,
    which is result caching.  Keys are automatically namespaced by the
    CALLING module, so ``memo("q57", ...)`` in text.py can never collide
    with the same literal in another module."""
    import sys

    from hadoop_sync_spark.memoize import expr_memo

    ns = sys._getframe(1).f_globals.get("__name__", "?")
    return expr_memo(ns, key, builder)


def scaled(c: Column | str) -> Column:
    """Exact scaled-integer form of a 2-decimal double column (BIGINT)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.round(col * SCALE2).cast("long")


def sql_scaled(expr: str) -> str:
    """DuckDB spelling of :func:`scaled`."""
    return f"CAST(ROUND(({expr}) * 100) AS BIGINT)"


def dsum(c: Column | str) -> Column:
    """Exact SUM over a 2-decimal double column, emitted as DOUBLE."""
    return F.sum(scaled(c)).cast("double") / F.lit(100.0)


def davg(c: Column | str) -> Column:
    """Deterministic AVG: exact scaled sum → double → /100 → /count."""
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(scaled(col)).cast("double") / F.lit(100.0) / F.count(col)


def sql_dsum(expr: str) -> str:
    """DuckDB spelling of :func:`dsum`."""
    return f"CAST(SUM({sql_scaled(expr)}) AS DOUBLE) / 100.0"


def sql_davg(expr: str) -> str:
    """DuckDB spelling of :func:`davg`."""
    return f"CAST(SUM({sql_scaled(expr)}) AS DOUBLE) / 100.0 / COUNT({expr})"


def md5_prefix_long(c: Column) -> Column:
    """First 32 bits of md5 as a BIGINT — the cross-engine exact hash
    (DuckDB twin: :func:`sql_md5_prefix_long`).  Used wherever Spark and
    the oracle must agree on an integer hash (rolling-hash token values,
    sampling buckets): xxhash64/hash are Spark-only, md5 is everywhere."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def sql_md5_prefix_long(expr: str) -> str:
    """DuckDB spelling of :func:`md5_prefix_long`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 8) AS BIGINT)"


def md5_prefix60_long(c: Column) -> Column:
    """First 60 bits of md5 as a BIGINT (15 hex chars — still positive in
    int64).  The wide variant for leaf-level row identity in the Merkle
    drill-down: 32 bits collide by the birthday bound around ~100k rows,
    60 bits push that past 1e9 rows per mismatched bucket."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_md5_prefix60_long(expr: str) -> str:
    """DuckDB spelling of :func:`md5_prefix60_long`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def materialize_and_free(assembled: DataFrame, free) -> DataFrame:
    """Contract-row epilogue shared by the ANN/pair/component contracts:
    materialize the (one-row) assembled frame, unpersist the listed
    cached inputs, and return the row as a LocalRelation (built by
    :func:`io.local_frame`, so collecting it runs no Spark job) — a
    lazily returned plan would either pin the caches for the session
    lifetime or recompute the whole pipeline at collect time.
    ``free`` may hold DataFrames (``.unpersist()``) or raw
    persisted-RDD handles (``.unpersist(bool)`` from the checkpoint
    trackers); Nones are skipped.  With no ``free`` list the assembled plan returns lazily
    unchanged."""
    if not free:
        return assembled
    rows = assembled.collect()
    schema = assembled.schema
    for frame in free:
        if frame is None:
            continue
        if isinstance(frame, (list, tuple)):
            # a checkpoint tracker's raw handle list (graph._tracked_ckpt)
            for h in frame:
                h.unpersist(False)
            continue
        try:
            frame.unpersist()
        except TypeError:
            frame.unpersist(False)
    return local_frame(assembled.sparkSession, rows, schema)
