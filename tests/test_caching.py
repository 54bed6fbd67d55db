"""Expression/scan caches are scoped to one SparkContext incarnation."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark import SparkContext

from reach_banner_spark import caching


def test_expr_cache_keyed_on_restart_unique_context(monkeypatch):
    builds = []

    def builder():
        builds.append(1)
        return object()

    # two contexts that could share an id(): same object, new incarnation
    ctx = SimpleNamespace(applicationId="local-1", startTime=1)
    monkeypatch.setattr(SparkContext, "_active_spark_context", ctx)
    first = caching.cached_exprs("k", builder)
    assert caching.cached_exprs("k", builder) is first
    assert len(builds) == 1

    ctx.applicationId, ctx.startTime = "local-2", 2
    second = caching.cached_exprs("k", builder)
    assert second is not first and len(builds) == 2
    assert caching.cached_exprs("k", builder) is second

    # a context change purges the old incarnation's entries
    caching.cached_exprs("only-on-2", builder)
    monkeypatch.setattr(
        SparkContext,
        "_active_spark_context",
        SimpleNamespace(applicationId="local-3", startTime=3),
    )
    caching.cached_exprs("k", builder)
    assert set(caching._EXPR_CACHE) == {"k"}

    # no active context: never cached
    monkeypatch.setattr(SparkContext, "_active_spark_context", None)
    n = len(builds)
    assert caching.cached_exprs("k", builder) is not caching.cached_exprs("k", builder)
    assert len(builds) == n + 2
