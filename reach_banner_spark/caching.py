"""Tracked persists: bounded executor-storage use across many invocations.

bench.py / pytest / the driver run EVERY ``queries()`` key inside one
long-lived SparkSession; operators that ``persist()`` an intermediate
(dedup's shingle table, the pipeline's mention/linked stages) would
otherwise accumulate cached tables in executor storage memory for the
whole session. ``persist_swap`` materializes the new intermediate NOW
(lazy persists recompute the producing UDF once per downstream branch —
measured 1.7x job cost) and unpersists the intermediates from *prior*
invocations, which are safe to drop because the caller of a previous key
has already materialized its result.

At 100 TB the same intermediates become checkpoint tables
(plans/checkpoint.py) with explicit lifecycle; this helper is the
in-session analogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []
_LIVE_BC: list = []


def persist_swap(df: DataFrame) -> DataFrame:
    """Persist + materialize ``df``, THEN unpersist previously tracked
    intermediates. Order matters: ``df`` may itself read a prior tracked
    persist (pipeline stage N+1 reads stage N), so the old cache must stay
    live until the new one is materialized; after that the old one's
    consumers are done (callers materialize each key's result before
    invoking the next)."""
    df.persist()
    df.count()
    while len(_LIVE) > 0:
        prev = _LIVE.pop()
        if prev is df:
            continue
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass  # session may have been restarted between invocations
    _LIVE.append(df)
    return df


def track_broadcast(bc):
    """Track a SparkContext broadcast backing a lazily-consumed DataFrame
    (the ``LexiconIndex`` of ``link_mentions``, the (model, index) pair of
    ``fused_broadcast``) and unpersist broadcasts from *prior*
    invocations — without this, repeated linking calls in one long
    session accumulate ~tens-of-MB broadcast blocks on every executor
    (ADVICE r3). Same lifecycle contract as ``persist_swap``: by the time a
    new invocation broadcasts, the previous invocation's consumers have
    materialized. ``unpersist`` (not ``destroy``) so a later recompute of
    an unpersisted upstream DataFrame can still re-fetch the value from
    the driver."""
    while _LIVE_BC:
        prev = _LIVE_BC.pop()
        if prev is bc:
            continue
        try:
            prev.unpersist(blocking=False)
        except Exception:
            pass
    _LIVE_BC.append(bc)
    return bc


def release_all() -> None:
    """Eagerly unpersist everything tracked (test teardown hook)."""
    while _LIVE:
        try:
            _LIVE.pop().unpersist(blocking=False)
        except Exception:
            pass
    while _LIVE_BC:
        try:
            # unpersist, NOT destroy, for symmetry with track_broadcast's
            # documented refetch semantics: a DataFrame that survives
            # teardown and is re-collected after release_all can still
            # re-fetch the broadcast value from the driver (ADVICE r4)
            _LIVE_BC.pop().unpersist(blocking=False)
        except Exception:
            pass


_EXPR_CACHE: dict = {}
_EXPR_TOKEN: tuple | None = None  # the context every _EXPR_CACHE entry belongs to


def _live_cache() -> dict | None:
    """``_EXPR_CACHE`` for the active SparkContext, or None (uncacheable)
    when no context is active. Entries are keyed to a restart-unique
    token — (applicationId, startTime), not ``id()``, which CPython may
    reuse for a new context at a freed address — and the whole cache is
    purged when that token changes, so a restarted context neither sees
    objects bound to the dead py4j gateway nor keeps them alive."""
    global _EXPR_TOKEN
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is None:
        return None
    token = (sc.applicationId, sc.startTime)
    if token != _EXPR_TOKEN:
        _EXPR_CACHE.clear()
        _EXPR_TOKEN = token
    return _EXPR_CACHE


def cached_exprs(key: str, builder):
    """Build-once cache for UNRESOLVED Column expression trees.

    Large Column-API expression chains pay their cost at CONSTRUCTION —
    py4j round-trips plus analyzer type propagation — every time the
    query function runs (the events_cramers_v finding: ~1.2 s to build
    vs 0.4 s to execute). Unresolved Columns reference column NAMES
    only, so one build serves every invocation. This caches expression
    TREES, never data: every invocation still computes from the parquet
    inputs. Scoped to the live SparkContext (``_live_cache``) so a
    restarted JVM gateway (whose py4j refs would dangle) rebuilds."""
    cache = _live_cache()
    if cache is None:
        return builder()
    if key not in cache:
        cache[key] = builder()
    return cache[key]


def cached_scan(spark, path: str):
    """Build-once LAZY parquet scan per (SparkContext, path).

    ``spark.read.parquet`` pays ~0.1 s of schema-inference I/O and py4j
    per call, and every query key re-reads its source tables per
    invocation. Caching the lazy DataFrame is the catalog-table pattern
    (a registered table resolves its schema from metadata instead of
    re-reading footers); every action still scans the parquet bytes, so
    nothing about "compute from the inputs" changes. Only used for
    write-once source paths (the sf star schema and content-fingerprinted
    staged corpora — paths whose bytes never change within a process);
    read-back-after-write paths must keep calling spark.read directly."""
    cache = _live_cache()
    if cache is None:
        return spark.read.parquet(path)
    key = ("scan", path)
    if key not in cache:
        cache[key] = spark.read.parquet(path)
    return cache[key]
