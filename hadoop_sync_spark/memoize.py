"""Process-wide Column-expression memo (round 14 — the hardened form of
round 13's three ad-hoc dicts: ``_util._COLUMN_MEMO``,
``hashing._LSH_EXPR_CACHE``, ``dedup._CONTRACT_EXPR_CACHE``).

Why it exists: building a query's filter/aggregate/window expressions
costs 0.1–0.7 s of py4j round-trips PER CALL (every ``F.*`` call is a
gateway message), and the bench protocol calls ``fn()`` five-plus times
per query.  Column objects are immutable expression trees PySpark
officially supports reusing across plans (unresolved attributes
re-resolve per plan), so the trees are built once per process.

The hard line (unchanged from round 13): **memoize Column expressions
only, never a DataFrame**.  A reused DataFrame would let Spark skip
recomputed shuffle stages across bench runs — result caching, which the
optimization rules forbid.  Every plan built from memoized Columns is
analyzed, optimized, and executed from the parquet inputs on every run.

Round-14 hardening (VERDICT r13 item 6 + ADVICE):

- **Namespaced keys.**  Entries are keyed ``(namespace, key)``; the
  shared helpers pass their module path, ``queries._util.memo`` derives
  the calling module automatically — two modules reusing the bare key
  ``"q100"`` can no longer collide.
- **Collision tripwire.**  Each entry remembers the ``__code__`` object
  of the builder that created it; a hit from a DIFFERENT call site
  (same key, different builder code) raises instead of silently
  returning the other site's expression tree.
- **SparkContext keying.**  Cached Columns hold py4j references into
  the JVM gateway.  The gateway lives for the process under the repo's
  one-session-per-process usage (benchmark, tests, driver), but a
  stopped and recreated SparkContext would orphan every cached
  reference — so the cache holds the active ``SparkContext`` object
  itself and clears when the active context ``is`` not that object.
  Holding the object (not its ``id()``) means a new context can never
  pass for the old one by reusing its freed address.
"""

from __future__ import annotations

_CACHE: dict = {}
_CTX = None


def _active_ctx():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def expr_memo(namespace: str, key, builder):
    """Return ``builder()`` memoized under ``(namespace, key)``.

    ``builder`` must produce Column expressions (or containers of them)
    — never a DataFrame (module docstring).  The memo is cleared when
    the active SparkContext changes, and a key hit from a different
    builder call site raises (collision tripwire)."""
    global _CTX
    ctx = _active_ctx()
    if ctx is not _CTX:
        _CACHE.clear()
        _CTX = ctx
    full = (namespace, key)
    code = getattr(builder, "__code__", None)
    got = _CACHE.get(full)
    if got is not None:
        value, owner = got
        if owner is not code:
            raise AssertionError(
                f"expression-memo key collision: {full!r} was cached by "
                "a different builder call site — namespace the key"
            )
        return value
    value = builder()
    _CACHE[full] = (value, code)
    return value


def closure_fingerprint(fn) -> tuple:
    """A hashable identity for a lambda/function that is safe to key a
    memo on: its code object plus its closure-cell values.  Two lambdas
    from the same source line with different captured constants (e.g.
    ``lambda x, y: est(x, y, k)`` for k=16 vs k=32) fingerprint
    differently; the same lambda re-created on every call fingerprints
    identically.  Unhashable cell values fall back to ``id()`` —
    correct for the repo's usage (cells hold ints/strings/functions),
    conservative otherwise (at worst a spurious rebuild, never a stale
    hit, since the code object pins the call site)."""
    cells = []
    for cell in fn.__closure__ or ():
        v = cell.cell_contents
        try:
            hash(v)
        except TypeError:
            v = id(v)
        cells.append(v)
    return (fn.__code__, tuple(cells))
