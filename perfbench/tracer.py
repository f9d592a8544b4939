"""Layer spans recorded from outside the package.

The benchmark wraps the public functions of each layer (server, sidecars,
embedder, engine, search and the write-path plans) with a span. A span
records its name, start, end, parent span and request id, and, when a
SparkContext is live, the Spark jobs, stages and tasks submitted under
it. Jobs are attributed with a job group per span, read through
``statusTracker()`` when the span closes (the tracker keeps only recent
jobs). A parent's counts include its children's.

Names are patched where they are called: a module that bound a function
at import keeps its own reference, so ``engine.write_chunks`` is patched
on the engine module, not on ``plans.ingest``.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) submitted under a job group."""
    st = sc.statusTracker()
    jobs = stages = tasks = 0
    for jid in st.getJobIdsForGroup(group):
        jobs += 1
        info = st.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return jobs, stages, tasks


class Tracer:
    """In-memory span recorder. ``enabled`` turns recording off without
    unpatching, so a run can alternate traced and untraced requests."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def set_request(self, rid) -> None:
        """Tag spans opened on this thread with a request id."""
        self._local.rid = rid

    @contextmanager
    def span(self, name: str, *, spark: bool = True):
        """Record one span. ``spark=False`` marks a layer that submits no
        Spark work itself: it takes no job group of its own (saving the
        py4j round trips), so any job under it counts to its parent."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        sc = _spark_context() if spark else None
        group = f"perfbench-span-{sid}" if sc is not None else None
        rec = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": getattr(self._local, "rid", None),
            "thread": threading.get_ident(),
            "jobs": 0, "stages": 0, "tasks": 0,
            "_group": group,
        }
        if group is not None:
            sc.setJobGroup(group, name)
        stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if group is not None:
                j, s, t = group_counts(sc, group)
                rec["jobs"] += j
                rec["stages"] += s
                rec["tasks"] += t
                outer = next((p for p in reversed(stack) if p["_group"]), None)
                sc.setJobGroup(outer and outer["_group"], outer and outer["name"])
            if parent is not None:
                parent["jobs"] += rec["jobs"]
                parent["stages"] += rec["stages"]
                parent["tasks"] += rec["tasks"]
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str, *, spark: bool = True) -> None:
        """Replace ``owner.attr`` with a spanned wrapper."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def spanned(*args, **kwargs):
            with self.span(name, spark=spark):
                return orig(*args, **kwargs)

        setattr(owner, attr, spanned)

    def export(self) -> list[dict]:
        with self._lock:
            return [
                {k: v for k, v in s.items() if not k.startswith("_")}
                for s in self.spans
            ]


def instrument(tracer: Tracer) -> None:
    """Wrap every layer the benchmark reports, in this process."""
    from mcp_local_rag_spark import engine, server
    from mcp_local_rag_spark.operators import (
        hybrid_serve, neighbors, search, vector_serve,
    )
    from mcp_local_rag_spark.plans import fts

    wrap = tracer.wrap
    wrap(server.RagRpcServer, "call_tool", "server.call_tool")
    # the sidecars and the embedder run in pyarrow and numpy
    wrap(hybrid_serve.HybridSearchServer, "query", "hybrid_serve.query", spark=False)
    wrap(vector_serve.VectorSearchServer, "query", "vector_serve.query", spark=False)
    wrap(neighbors.NeighborServer, "read", "neighbors.read", spark=False)
    wrap(hybrid_serve, "embed_query", "embedder.embed_query", spark=False)
    wrap(engine, "embed_query", "embedder.embed_query", spark=False)
    wrap(engine.RagEngine, "index_is_fresh", "engine.index_is_fresh", spark=False)
    wrap(search, "hybrid_search", "search.hybrid_search")
    for method in ("ingest_data", "ingest_file", "delete_document", "optimize",
                   "sync", "ingest_directory"):
        wrap(engine.RagEngine, method, f"engine.{method}")
    wrap(engine, "write_chunks", "plans.ingest.write_chunks")
    wrap(engine, "compact_chunks", "plans.ingest.compact_chunks")
    wrap(fts, "refresh_postings", "plans.fts.refresh_postings")
    wrap(fts, "write_postings", "plans.fts.write_postings")
