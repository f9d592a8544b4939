"""Request-scoped persist tracking for the serving adapter.

Some per-query pipelines (operators/bm25.bm25_scores over a per-query
postings build) persist bounded intermediates that the returned plan
still references, so they cannot unpersist before the caller collects.
(``hybrid_search`` and ``hybrid_search_batch`` persist nothing: they
collect their Spark stages and return a LocalRelation.) A long-running
server must still free them — Spark's
CacheManager entries are not GC'd — but a blanket
``spark.catalog.clearCache()`` per request (the previous posture) also
evicts every cache the request did NOT create: pre-warmed tables, other
requests' pinned frames, maintenance intermediates. At scale that turns
warm queries cold after every unrelated call.

This module is the targeted alternative: pipelines route their persists
through :func:`persisted`, and the server wraps each request in
:func:`persist_scope`, which unpersists exactly the handles created
inside it. Outside any scope (bench runs, notebooks, tests driving the
operators directly) ``persisted`` is a transparent pass-through.

Scopes are per-thread (a background sync thread's persists belong to the
sync, not to whatever read request is in flight on the serve loop).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame

_scopes = threading.local()


def persisted(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered with the innermost active scope on
    this thread (no-op registration when no scope is active)."""
    df = df.persist()
    stack = getattr(_scopes, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


@contextmanager
def persist_scope():
    """Unpersist every :func:`persisted` handle created inside the block
    — after the block's results are collected, so the only cost of a
    too-early-reader is a recompute, never a wrong answer."""
    stack = getattr(_scopes, "stack", None)
    if stack is None:
        stack = _scopes.stack = []
    handles: list[DataFrame] = []
    stack.append(handles)
    try:
        yield handles
    finally:
        stack.pop()
        for df in handles:
            try:
                df.unpersist()
            except Exception:
                pass
