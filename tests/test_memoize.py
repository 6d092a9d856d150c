"""Unit pins for hadoop_sync_spark.memoize (round 14): namespacing,
the collision tripwire, closure fingerprints, and SparkContext keying."""

from __future__ import annotations

import pytest

from hadoop_sync_spark import memoize
from hadoop_sync_spark.memoize import closure_fingerprint, expr_memo


def test_same_call_site_hits_cache():
    calls = []

    def build():
        calls.append(1)
        return object()

    a = expr_memo("tests.ns", "k1", build)
    b = expr_memo("tests.ns", "k1", build)
    assert a is b
    assert len(calls) == 1


def test_namespaces_isolate_identical_keys():
    a = expr_memo("tests.ns_a", "shared", lambda: "A")
    b = expr_memo("tests.ns_b", "shared", lambda: "B")
    assert (a, b) == ("A", "B")


def test_collision_tripwire_fires_across_call_sites():
    expr_memo("tests.ns", "collide", lambda: 1)
    with pytest.raises(AssertionError, match="collision"):
        expr_memo("tests.ns", "collide", lambda: 2)


def test_closure_fingerprint_distinguishes_captured_constants():
    def make(k):
        return lambda x: x + k

    f16, f32 = make(16), make(32)
    assert closure_fingerprint(f16) != closure_fingerprint(f32)
    # the same construction with the same constant fingerprints equal
    assert closure_fingerprint(make(16)) == closure_fingerprint(f16)


def test_cache_clears_when_spark_context_changes(monkeypatch):
    ctx = [object()]
    monkeypatch.setattr(memoize, "_active_ctx", lambda: ctx[0])
    build = lambda: object()  # noqa: E731 — one call site on purpose
    first = expr_memo("tests.ctx", "k", build)
    assert expr_memo("tests.ctx", "k", build) is first
    ctx[0] = object()  # a stopped-and-recreated SparkContext
    second = expr_memo("tests.ctx", "k", build)
    assert second is not first


def test_util_memo_namespaces_by_calling_module():
    """queries._util.memo must key by the caller's module: this test
    module and a faked 'other module' caller using the same literal key
    get independent entries."""
    from hadoop_sync_spark.queries._util import memo

    build = lambda: "mine"  # noqa: E731 — one call site on purpose
    got = memo("q_test_key", build)
    assert got == "mine"
    # same literal key straight through expr_memo under another
    # namespace is unaffected
    other = expr_memo("queries.somewhere_else", "q_test_key",
                      lambda: "theirs")
    assert other == "theirs"
    assert memo("q_test_key", build) == "mine"
