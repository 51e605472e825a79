"""Lifecycle tracking for operator-internal persisted DataFrames.

Operators persist shared intermediates (shingle relations, signature
tables, term-frequency matrices) because their returned plan references
the intermediate more than once and Catalyst cannot reuse the exchange
across different aggregations. The persist is correct, but Spark's
CacheManager never releases those entries on its own: a long-lived
session (the HTTP server, a notebook) accumulates executor storage with
every operator call.

The contract here: operators route such persists through
`tracked_persist`; anything that materializes results and is done with
the operator output either wraps the work in a `persist_scope()` (the
HTTP server, per request) or calls the global `release_persisted()`
(bench.py between queries, tests at teardown). Scopes are thread-local,
so concurrent requests in a ThreadingHTTPServer release only their own
intermediates — a global drain there would silently evict caches a
concurrent in-flight query is still using (correct but cache-defeating).
Iterative operators whose loop intermediates are NOT referenced by the
returned frame (cc, BFS, k-means: try/finally unpersist; kcore: one
`iterate.checkpoint` per peel) leave no cache, with no caller cooperation.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_tracked: list[DataFrame] = []
_local = threading.local()


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist() a shared intermediate and register it for scoped
    release: with the calling thread's innermost `persist_scope()` when
    one is active, else with the global list."""
    df = df.persist()
    scopes = getattr(_local, "scopes", None)
    if scopes:
        scopes[-1].append(df)
    else:
        _tracked.append(df)
    return df


@contextmanager
def persist_scope():
    """Scope tracked persists to this block on this thread; everything
    registered inside is unpersisted on exit. Nests; other threads'
    scopes and the global list are untouched."""
    scopes = getattr(_local, "scopes", None)
    if scopes is None:
        scopes = _local.scopes = []
    scope: list[DataFrame] = []
    scopes.append(scope)
    try:
        yield scope
    finally:
        scopes.pop()
        while scope:
            df = scope.pop()
            try:
                df.unpersist()
            except Exception:
                pass


def release_persisted() -> int:
    """Unpersist every GLOBALLY tracked intermediate (non-blocking);
    returns the number released. Does not touch active persist_scope()s.
    Safe to call at any time: results already materialized are
    unaffected, lazy plans recompute without the cache."""
    n = 0
    while _tracked:
        df = _tracked.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
