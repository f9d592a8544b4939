"""MCP + stdio JSON-RPC serving adapter over RagEngine + NeighborServer.

The reference exposes its engine as MCP tools over the stdio transport
(src/server/index.ts:1269-1272): the protocol envelope is JSON-RPC with
``initialize`` / ``tools/list`` / ``tools/call`` methods, the tool
schemas are declarative data (src/server/tool-definitions.ts:12-188),
and dispatch is a central switch (src/server/index.ts:389-444) with a
single-writer mutation guard that read-only tools bypass (:396-403) and
async sync jobs that return a jobId immediately (:1075-1103).

This module is that surface re-expressed over the Spark engine, in two
layers:

- :class:`RagRpcServer` — the tool layer. One handler per tool, the
  mutation guard and the read-retry discipline. It also speaks bare
  method-per-tool JSON-RPC for lightweight clients.
- :class:`McpServer` — the protocol envelope a real MCP client connects
  to: ``initialize`` capability negotiation, ``tools/list`` serving the
  schemas from tool_definitions.py, ``tools/call`` wrapping each tool result
  as MCP content blocks, notifications accepted silently. MCP's stdio
  transport is newline-delimited JSON-RPC, so the same serve loop works.

The BATCH plans stay DataFrame DAGs inside RagEngine; the adapter is the
thin external-system seam BASELINE.json prescribes ("batch index build
via DataFrame ops, serving requires external system"), with neighbor
point-reads routed through the pyarrow NeighborServer so the hot read
path never pays a Spark job submission.

Errors use -32601 (unknown method), -32602 (invalid params), -32000
(execution failure), -32700 (parse error) — the dispatcher never crashes
the loop on a bad request. In the MCP envelope a mutation-overlap answers
as an ``isError`` tool RESULT (the reference's acquireMutation overlap
response, src/server/index.ts:356-366), not a protocol error.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from datetime import datetime, timezone
from typing import Any, Callable

from . import __version__
from .engine import RagEngine
from .operators.neighbors import NeighborServer
from .tool_definitions import TOOL_DEFINITIONS


class RpcError(Exception):
    def __init__(self, code: int, message: str):
        super().__init__(message)
        self.code = code


class MutationOverlap(Exception):
    """A mutating tool arrived while another mutation holds the guard.
    Each envelope maps it its own way: bare JSON-RPC answers -32000, MCP
    answers an ``isError: true`` tool result (reference :356-366)."""


OVERLAP_MESSAGE = "another mutation is in progress; retry after it completes"


def _now_iso() -> str:
    return datetime.now(timezone.utc).isoformat()


def _require_query(params: dict) -> str:
    q = params.get("query")
    if not isinstance(q, str) or not q.strip():
        raise RpcError(-32602, "query must be a non-empty string")
    return q


def _limit(params: dict, default: int = 10) -> int:
    lim = params.get("limit", default)
    if isinstance(lim, float) and lim.is_integer():
        lim = int(lim)  # MCP schemas say "number"; 5.0 over the wire is 5
    if not isinstance(lim, int) or isinstance(lim, bool) or not (1 <= lim <= 20):
        raise RpcError(-32602, "limit must be an integer in [1, 20]")
    return lim


def _max_distance(params: dict) -> float | None:
    md = params.get("maxDistance")
    if md is None:
        return None
    if isinstance(md, bool) or not isinstance(md, (int, float)) or md < 0:
        raise RpcError(-32602, "maxDistance must be a non-negative number")
    return float(md)


def _grouping(params: dict) -> str | None:
    g = params.get("grouping")
    if g is not None and g not in ("similar", "related"):
        raise RpcError(-32602, "grouping must be 'similar' or 'related'")
    return g


def _scope(params: dict) -> list[str] | None:
    """Reference schema: one string or a list (unioned) —
    tool-definitions.ts:30-34 array-wraps exactly like index.ts:474-476."""
    scope = params.get("scope")
    if scope is None:
        return None
    if isinstance(scope, str):
        scope = [scope]
    if not isinstance(scope, list) or not all(isinstance(s, str) for s in scope):
        raise RpcError(-32602, "scope must be a string or a list of strings")
    trimmed = [s.strip() for s in scope if s.strip()]
    return trimmed or None


def _under_prefix(path: str, prefix: str) -> bool:
    """Driver-side twin of functions/paths.scope_predicate: separator
    boundary, so '/docs/api' matches '/docs/api/x.md' but not
    '/docs/apiv2'. A relative prefix matches nothing (the scan is
    absolute-path based)."""
    if not os.path.isabs(prefix):
        return False
    prefix = prefix.rstrip(os.sep) or os.sep
    return path == prefix or path.startswith(prefix + os.sep)


class RagRpcServer:
    """Tool-layer dispatcher + handlers. ``call_tool`` serves one tool
    invocation (shared by the bare JSON-RPC ``handle`` and the MCP
    envelope); ``serve`` runs the line-delimited stdio loop."""

    MAX_JOB_RECORDS = 100  # terminal sync records kept for sync_status
    MAX_BATCH_QUERIES = 50  # width cap for query_documents_batch

    def __init__(
        self,
        engine: RagEngine,
        neighbors: NeighborServer | None = None,
        *,
        base_dirs: list[str] | None = None,
    ):
        self.engine = engine
        self.neighbors = neighbors or NeighborServer(engine.spark, engine.table_path)
        # list_files scans these roots (reference baseDirs,
        # src/server/index.ts:252-258); empty means "no configured roots"
        # and list_files reports only sources
        self.base_dirs = [os.path.abspath(p) for p in (base_dirs or [])]
        self._started = time.time()
        # serving fast path: the pyarrow+numpy hybrid sidecar answers
        # query_documents in ~10 ms (row-identical to the Spark pipeline,
        # operators/hybrid_serve) — used ONLY while the engine reports the
        # postings index fresh; pending mutations route back through the
        # Spark path, whose scan fallback stays correct on a stale index
        from .operators.hybrid_serve import HybridSearchServer

        self._hybrid = HybridSearchServer(
            engine.table_path, engine.postings_path, db_path=engine.db_path
        )
        # the reference's single-writer mutation guard: one mutating tool
        # at a time; read-only tools bypass it (src/server/index.ts:396-403)
        self._write_guard = threading.Lock()
        self._sync_jobs: dict[str, dict] = {}
        # per-tool observability: calls/errors/latency reservoir (bounded).
        # A serving process needs its own counters — the Spark UI shows
        # jobs, not tool-level traffic, and the sidecar paths never submit
        # jobs at all.
        self._metrics: dict[str, dict] = {}
        self._metrics_lock = threading.Lock()
        self._methods: dict[str, tuple[Callable[[dict], Any], bool]] = {
            # reference tool names (tool-definitions.ts:12-188)
            "query_documents": (self._query_documents, False),
            "read_chunk_neighbors": (self._read_chunk_neighbors, False),
            "list_files": (self._list_files, False),
            "status": (self._status, False),
            "sync_status": (self._sync_status, False),
            "ingest_file": (self._ingest_file, True),
            "ingest_data": (self._ingest_data, True),
            "delete_file": (self._delete_file, True),
            "sync_start": (self._sync_start, True),
            # Spark-repo extensions + legacy aliases (pre-MCP clients)
            "query_documents_batch": (self._query_documents_batch, False),
            "metrics": (self._metrics_tool, False),
            "list_documents": (self._list_documents, False),
            "get_status": (self._get_status, False),
            "delete_document": (self._delete_document, True),
        }

    # -- read-only tools --------------------------------------------------

    def _query_documents(self, params: dict) -> dict:
        q = _require_query(params)
        kw = dict(
            limit=_limit(params),
            scope=_scope(params),
            max_distance=_max_distance(params),
            grouping=_grouping(params),
        )
        if self.engine.index_is_fresh():
            return {"results": self._hybrid.query(q, **kw)}
        rows = self.engine.query_documents(q, **kw).collect()
        return {"results": [r.asDict() for r in rows]}

    def _query_documents_batch(self, params: dict) -> dict:
        """N concurrent queries amortized over one corpus scan (the
        serving consolidation shape — engine.query_documents_batch).
        Results arrive grouped per query_index in input order."""
        queries = params.get("queries")
        if (
            not isinstance(queries, list)
            or not queries
            or not all(isinstance(s, str) and s.strip() for s in queries)
        ):
            raise RpcError(-32602, "queries must be a non-empty list of strings")
        if len(queries) > self.MAX_BATCH_QUERIES:
            # the per-query limit is clamped to [1,20]; the batch width is
            # bounded for the same reason — one request must not broadcast
            # an unbounded query matrix into the corpus kernel
            raise RpcError(
                -32602, f"at most {self.MAX_BATCH_QUERIES} queries per batch"
            )
        kw = dict(
            limit=_limit(params),
            scope=_scope(params),
            max_distance=_max_distance(params),
            grouping=_grouping(params),
        )
        if self.engine.index_is_fresh():
            # the batch contract IS "row-identical to N single calls"
            # (engine.query_documents_batch docstring), so the sidecar
            # serves each query in ~10 ms — N small matmuls against the
            # one loaded snapshot beat one amortized Spark job by ~50x
            # at RPC batch widths (<= 50)
            return {
                "results": [
                    # the Spark branch's rows carry query_index (the wire
                    # shape must not depend on which path answered)
                    [{"query_index": str(i), **r} for r in self._hybrid.query(q, **kw)]
                    for i, q in enumerate(queries)
                ]
            }
        rows = self.engine.query_documents_batch(queries, **kw).collect()
        grouped: list[list] = [[] for _ in queries]
        for r in rows:
            grouped[int(r["query_index"])].append(r.asDict())
        for g in grouped:
            # pin the per-query row order (the DataFrame collect order is
            # partition-dependent) to the ranking order both paths share
            g.sort(key=lambda r: (r["score"], r["filePath"], r["chunkIndex"]))
        return {"results": grouped}

    def _read_chunk_neighbors(self, params: dict) -> dict:
        """Target + neighbors ascending, isTarget marked — reference
        handleReadChunkNeighbors (src/server/index.ts:1001-1063): exactly
        one of filePath/source, before/after clamped to [0, 50], an
        out-of-range chunkIndex returns []."""
        from .plans.raw_data import path_to_source, source_to_path

        fp, src = params.get("filePath"), params.get("source")
        has_fp = isinstance(fp, str) and fp.strip()
        has_src = isinstance(src, str) and src.strip()
        if bool(has_fp) == bool(has_src):
            raise RpcError(
                -32602, "provide exactly one of filePath (string) or source (string)"
            )
        idx = params.get("chunkIndex")
        if isinstance(idx, float) and idx.is_integer():
            idx = int(idx)
        if not isinstance(idx, int) or isinstance(idx, bool) or idx < 0:
            raise RpcError(-32602, "chunkIndex must be a non-negative integer")
        before, after = params.get("before", 2), params.get("after", 2)
        coerced = []
        for name, v in (("before", before), ("after", after)):
            if isinstance(v, float) and v.is_integer():
                v = int(v)  # MCP schemas say "number"; 2.0 over the wire is 2
            if not isinstance(v, int) or isinstance(v, bool) or not (0 <= v <= 50):
                raise RpcError(-32602, f"{name} must be an integer in [0, 50]")
            coerced.append(v)
        before, after = coerced
        target = source_to_path(src, self.engine.db_path) if has_src else fp
        rows = self.neighbors.read(target, idx, before=before, after=after)
        restored = path_to_source(target, self.engine.db_path)
        chunks = []
        for r in rows:
            item = {
                "filePath": r["filePath"],
                "chunkIndex": r["chunkIndex"],
                "text": r.get("text"),
                "isTarget": r["chunkIndex"] == idx,
                "fileTitle": r.get("fileTitle"),
            }
            if restored:
                item["source"] = restored
            chunks.append(item)
        return {"chunks": chunks}

    def _list_documents(self, params: dict) -> dict:
        return {"documents": [r.asDict() for r in self.engine.list_documents().collect()]}

    def _get_status(self, params: dict) -> dict:
        return self.engine.get_status()

    def _status(self, params: dict) -> dict:
        """Reference status shape (src/vectordb/index.ts:563-579):
        documentCount, chunkCount, memoryUsage (MB), uptime (s),
        ftsIndexEnabled, searchMode."""
        import resource

        eng = self.engine.get_status()
        # ru_maxrss is KiB on Linux
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
        return {
            "documentCount": eng["documentCount"],
            "chunkCount": eng["chunkCount"],
            "memoryUsage": int(rss_mb),
            "uptime": round(time.time() - self._started, 3),
            "ftsIndexEnabled": True,
            "searchMode": "hybrid",
            # extension beyond the reference shape: ANN serving-tier
            # coverage, so a RESTARTED engine can report whether its
            # persisted IVF index still covers the current table version
            # (the same covered-version handshake ann_index_is_fresh and
            # the ivf-serve lane gate on) without rebuilding anything.
            # eng already carries it (engine.ann_index_status, shared
            # with the CLI `status` subcommand)
            "annIndex": eng["annIndex"],
        }

    def _metrics_tool(self, params: dict) -> dict:
        """Extension: per-tool traffic since process start — calls,
        errors, and p50/p95 latency over a bounded reservoir."""
        out = {}
        with self._metrics_lock:
            for name, m in sorted(self._metrics.items()):
                lat = sorted(m["latencies_ms"])
                out[name] = {
                    "calls": m["calls"],
                    "errors": m["errors"],
                    "p50_ms": lat[len(lat) // 2] if lat else None,
                    "p95_ms": lat[max(0, int(len(lat) * 0.95) - 1)] if lat else None,
                }
        return {"uptime_s": round(time.time() - self._started, 3), "tools": out}

    def _list_files(self, params: dict) -> dict:
        """Reference list_files (src/server/index.ts:818-875): scan the
        configured base directories, mark each supported file ingested or
        not, and report ingest_data items as sources — they have no scan
        path, so scope never filters them."""
        from .plans.raw_data import path_to_source
        from .sources.scan import scan_directory

        scope = _scope(params)
        ingested: dict[str, dict] = {}
        if self.engine._exists():
            for r in self.engine.list_documents().collect():
                ingested[r["filePath"]] = {
                    "chunkCount": r["chunkCount"],
                    "timestamp": r["timestamp"],
                }
        files: list[dict] = []
        warnings: list[str] = []
        for base in self.base_dirs:
            scan = scan_directory(base)
            # per-root coverage facts surface as warnings, like the
            # reference's per-root scan warning blocks (index.ts:855-860)
            for p in scan.unreadable_dirs:
                warnings.append(f"[{base}] unreadable dir: {p}")
            for p in scan.depth_limited_dirs:
                warnings.append(f"[{base}] depth-limited dir: {p}")
            for p in scan.skipped_symlinks:
                warnings.append(f"[{base}] skipped symlink: {p}")
            for p in scan.oversized_files:
                warnings.append(f"[{base}] oversized file: {p}")
            for f in scan.files:
                path = f["path"]
                if scope is not None and not any(
                    _under_prefix(path, p) for p in scope
                ):
                    continue
                hit = ingested.get(path)
                if hit is not None:
                    files.append(
                        {
                            "filePath": path,
                            "baseDir": base,
                            "ingested": True,
                            "chunkCount": hit["chunkCount"],
                            "timestamp": hit["timestamp"],
                        }
                    )
                else:
                    files.append(
                        {"filePath": path, "baseDir": base, "ingested": False}
                    )
        sources: list[dict] = []
        for path, hit in sorted(ingested.items()):
            src = path_to_source(path, self.engine.db_path)
            if src is not None:
                sources.append(
                    {
                        "source": src,
                        "chunkCount": hit["chunkCount"],
                        "timestamp": hit["timestamp"],
                    }
                )
        # a relative scope prefix matches nothing by design — surface the
        # silent miss (reference index.ts:863-873)
        for p in scope or ():
            if not os.path.isabs(p):
                warnings.append(
                    f'scope prefix "{p}" is not absolute; it matches nothing.'
                )
        return {
            "baseDir": self.base_dirs[0] if self.base_dirs else None,
            "baseDirs": list(self.base_dirs),
            "files": files,
            "sources": sources,
            "warnings": warnings,
        }

    # -- mutating tools (guarded) ----------------------------------------

    def _ingest_file(self, params: dict) -> dict:
        fp = params.get("filePath")
        if not isinstance(fp, str) or not fp:
            raise RpcError(-32602, "filePath must be a non-empty string")
        visual = params.get("visual", False)
        if not isinstance(visual, bool):
            raise RpcError(-32602, "visual must be a boolean")
        vq = params.get("visualQuality", "fast")
        if vq not in ("fast", "quality"):
            raise RpcError(-32602, "visualQuality must be 'fast' or 'quality'")
        res = self.engine.ingest_file(fp, visual=visual, visual_quality=vq)
        self.engine.optimize()
        self.neighbors.invalidate()
        self._hybrid.invalidate()
        return {**res, "timestamp": _now_iso()}

    def _ingest_data(self, params: dict) -> dict:
        """Accepts the reference wire shape — {content, metadata: {source,
        format}} (tool-definitions.ts:70-98) — and the legacy flat
        {content, source, format}."""
        content = params.get("content")
        meta = params.get("metadata")
        if isinstance(meta, dict):
            source, fmt = meta.get("source"), meta.get("format", "markdown")
        else:
            source, fmt = params.get("source"), params.get("format", "markdown")
        if not isinstance(content, str) or not isinstance(source, str) or not source:
            raise RpcError(-32602, "content (string) and source (string) required")
        if fmt not in ("text", "html", "markdown"):
            raise RpcError(-32602, "format must be 'text', 'html', or 'markdown'")
        from .plans.raw_data import source_to_path

        n = self.engine.ingest_data(content, source, format=fmt)
        self.engine.optimize()
        self.neighbors.invalidate()
        self._hybrid.invalidate()
        return {
            "filePath": source_to_path(source, self.engine.db_path),
            "source": source,
            "chunkCount": n,
            "timestamp": _now_iso(),
        }

    def _delete_document(self, params: dict) -> dict:
        fp = params.get("filePath")
        if not isinstance(fp, str) or not fp:
            raise RpcError(-32602, "filePath must be a non-empty string")
        n = self.engine.delete_document(fp)
        self.engine.optimize()
        self.neighbors.invalidate()
        self._hybrid.invalidate()
        return {"filePath": fp, "deletedChunks": n}

    def _delete_file(self, params: dict) -> dict:
        """Reference delete_file (src/server/index.ts:910-993): filePath
        for ingest_file documents, source for ingest_data — at least one;
        returns {filePath, deleted, removedChunks, existed, timestamp}."""
        from .plans.raw_data import source_to_path

        fp, src = params.get("filePath"), params.get("source")
        has_fp = isinstance(fp, str) and fp.strip()
        has_src = isinstance(src, str) and src.strip()
        if not has_fp and not has_src:
            raise RpcError(-32602, "either filePath or source must be provided")
        target = source_to_path(src, self.engine.db_path) if has_src else fp
        n = self.engine.delete_document(target)
        self.engine.optimize()
        self.neighbors.invalidate()
        self._hybrid.invalidate()
        return {
            "filePath": target,
            "deleted": True,
            "removedChunks": n,
            "existed": n > 0,
            "timestamp": _now_iso(),
        }

    def _sync_start(self, params: dict) -> dict:
        """Register the job record and return the jobId IMMEDIATELY; the
        run is a background thread that releases the guard on terminal
        state (reference :1075-1103). The guard is handed over to the
        thread — dispatch acquires it, the worker releases it.

        ``path`` is optional, as tool_definitions advertises (and the
        reference's sync core implements, src/features/sync.ts:502-528):
        omitted → one job syncing every configured base directory;
        supplied with base dirs configured → must lie under one of them
        (reference outsideConfiguredRootsMessage, sync.ts:365-366);
        supplied with no base dirs configured → accepted as-is (the
        legacy single-root mode)."""
        root = params.get("path")
        if root is not None and (not isinstance(root, str) or not root):
            raise RpcError(-32602, "path must be a non-empty string when provided")
        if root is None:
            if not self.base_dirs:
                raise RpcError(
                    -32602,
                    "path is required: no base directories are configured",
                )
            roots = list(self.base_dirs)
        else:
            ap = os.path.abspath(root)
            if self.base_dirs and not any(
                ap == b or ap.startswith(b.rstrip(os.sep) + os.sep)
                for b in self.base_dirs
            ):
                raise RpcError(
                    -32602,
                    f"Sync path is outside every configured root: {root}",
                )
            roots = [root]
        job_id = str(uuid.uuid4())
        record = {"jobId": job_id, "state": "running", "counters": None, "error": None}
        # bounded job history: evict the oldest TERMINAL records beyond the
        # cap (a long-lived session running periodic syncs must not grow
        # its record map forever; running jobs are never evicted)
        terminal = [
            jid for jid, r in self._sync_jobs.items() if r["state"] != "running"
        ]
        for jid in terminal[: max(0, len(terminal) - self.MAX_JOB_RECORDS + 1)]:
            del self._sync_jobs[jid]
        self._sync_jobs[job_id] = record

        def _run():
            try:
                # one job covering each root: merged counters, concatenated
                # warnings — the record shape is identical to a single-root
                # run, so sync_status_mcp needs no changes
                counters: dict[str, int] = {}
                warnings: list[str] = []
                for r in roots:
                    rep = self.engine.sync(r)
                    for k, v in rep.counters.items():
                        counters[k] = counters.get(k, 0) + v
                    warnings.extend(rep.warnings)
                record["counters"] = counters
                record["warnings"] = warnings
                record["state"] = "completed"
            except Exception as e:  # terminal state, never crash the loop
                record["error"] = f"{type(e).__name__}: {e}"
                record["state"] = "failed"
            finally:
                self.neighbors.invalidate()
                self._hybrid.invalidate()
                self._write_guard.release()

        threading.Thread(target=_run, daemon=True).start()
        return {"jobId": job_id}

    def _sync_status(self, params: dict) -> dict:
        job_id = params.get("jobId")
        rec = self._sync_jobs.get(job_id)
        if rec is None:
            raise RpcError(-32602, f"unknown jobId: {job_id}")
        return rec

    def sync_status_mcp(self, params: dict) -> dict:
        """The reference sync_status record shape (src/server/types.ts
        SyncStatusResult; tool-definitions.ts:186-200): state 'running' |
        'succeeded' | 'failed', summary {upserted, skipped, empty,
        pruned}, total/completed counts, warnings, error."""
        rec = self._sync_status(params)
        state = {"completed": "succeeded"}.get(rec["state"], rec["state"])
        counters = rec.get("counters") or {}
        warnings = rec.get("warnings") or []
        empty = sum(1 for w in warnings if w.startswith("upsert skipped"))
        upserted = max(
            0, counters.get("upsert", 0) + counters.get("upsert_new", 0) - empty
        )
        skipped = counters.get("skip", 0)
        pruned = counters.get("prune", 0)
        terminal = state != "running"
        completed = upserted + skipped + empty if terminal else 0
        return {
            "jobId": rec["jobId"],
            "state": state,
            "total": completed if terminal else None,
            "completed": completed,
            "summary": {
                "upserted": upserted,
                "skipped": skipped,
                "empty": empty,
                "pruned": pruned,
            },
            "warnings": list(warnings),
            "error": rec.get("error"),
        }

    # -- dispatch ---------------------------------------------------------

    MAX_LATENCY_SAMPLES = 512  # per-tool reservoir for percentile estimates

    def _record_metric(self, method: str, t0: float, ok: bool) -> None:
        # client-supplied junk method names (the -32601 path) must not
        # grow the metric map without bound on a long-lived server: only
        # registered tools get their own key; everything else shares one
        # 'unknown' bucket
        if method not in self._methods:
            method = "unknown"
        with self._metrics_lock:
            m = self._metrics.setdefault(
                method, {"calls": 0, "errors": 0, "latencies_ms": []}
            )
            m["calls"] += 1
            if not ok:
                m["errors"] += 1
            lat = m["latencies_ms"]
            lat.append(round((time.time() - t0) * 1000, 3))
            if len(lat) > self.MAX_LATENCY_SAMPLES:
                del lat[: len(lat) - self.MAX_LATENCY_SAMPLES]

    def call_tool(self, method: str, params: dict) -> Any:
        """One tool invocation: guard, read-retry, persist cleanup,
        per-tool metrics. Raises RpcError (-32601 unknown tool, -32602
        bad params), MutationOverlap, or the handler's own failure."""
        t0 = time.time()
        try:
            result = self._call_tool_inner(method, params)
        except Exception:
            self._record_metric(method, t0, ok=False)
            raise
        self._record_metric(method, t0, ok=True)
        return result

    def _call_tool_inner(self, method: str, params: dict) -> Any:
        entry = self._methods.get(method)
        if entry is None:
            raise RpcError(-32601, f"unknown method: {method}")
        handler, mutates = entry
        if not isinstance(params, dict):
            raise RpcError(-32602, "params must be an object")
        holding = False
        try:
            if mutates:
                # one mutating tool at a time; a running sync holds the
                # guard until its terminal state. NON-BLOCKING, like the
                # reference's acquireMutation (src/server/index.ts:397-399,
                # returns an overlap response immediately): a blocking
                # acquire here would freeze the single-threaded serve loop
                # — no reads, no sync_status — for as long as a running
                # sync holds the guard.
                if not self._write_guard.acquire(blocking=False):
                    raise MutationOverlap(OVERLAP_MESSAGE)
                holding = True
            try:
                result = handler(params)
            except (RpcError, MutationOverlap):
                raise
            except Exception:
                if mutates:
                    raise
                # read-during-mutation race: a background sync's bucket
                # rewrite can invalidate the file listing under a running
                # Spark scan ("underlying files have been updated"). The
                # parquet layout has no snapshot isolation (the reference
                # tolerates this only because LanceDB is versioned), so
                # reads self-heal the same way NeighborServer does:
                # refresh the file index once and retry.
                self.engine.spark.catalog.refreshByPath(self.engine.table_path)
                self.neighbors.invalidate()
                self._hybrid.invalidate()
                result = handler(params)
            if method == "sync_start":
                holding = False  # guard handed to the sync worker thread
            return result
        finally:
            if holding:
                self._write_guard.release()

    def handle(self, request: dict) -> dict:
        """Bare method-per-tool JSON-RPC (the pre-MCP wire shape)."""
        rid = request.get("id")
        method = request.get("method")
        try:
            result = self.call_tool(method, request.get("params") or {})
            return {"jsonrpc": "2.0", "id": rid, "result": result}
        except MutationOverlap as e:
            return _err(rid, -32000, str(e))
        except RpcError as e:
            return _err(rid, e.code, str(e))
        except Exception as e:
            return _err(rid, -32000, f"{type(e).__name__}: {e}")

    def serve(self, stdin, stdout) -> None:
        """Line-delimited stdio loop: EOF ends the session; malformed JSON
        answers with a -32700 parse error instead of crashing."""
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                request = json.loads(line)
            except ValueError:
                response = _err(None, -32700, "parse error")
            else:
                response = self.handle(request)
            stdout.write(json.dumps(response) + "\n")
            stdout.flush()


class McpServer:
    """The MCP protocol envelope over :class:`RagRpcServer` — what a real
    MCP client (Claude Desktop, the TS SDK's stdio client) connects to.

    MCP's stdio transport is newline-delimited JSON-RPC 2.0, so ``serve``
    reuses the line loop; the protocol layer adds ``initialize``
    capability negotiation, ``tools/list`` (schemas from
    tool_definitions.py, mirroring src/server/tool-definitions.ts:12-188),
    ``tools/call`` result wrapping as content blocks (the reference
    stringifies each tool result into one text block,
    src/server/index.ts:499-508), and silent notification handling.
    """

    PROTOCOL_VERSION = "2025-06-18"
    SUPPORTED_VERSIONS = ("2025-06-18", "2025-03-26", "2024-11-05")
    SERVER_NAME = "rag-mcp-server"  # reference src/server/index.ts:267

    def __init__(self, rpc: RagRpcServer):
        self.rpc = rpc
        self._initialized = False

    # tools whose MCP text block is the inner list, not the wrapper dict —
    # the reference stringifies the results array itself
    # (src/server/index.ts:499-503 query_documents, :1044-1062 neighbors)
    _UNWRAP = {
        "query_documents": "results",
        "query_documents_batch": "results",
        "read_chunk_neighbors": "chunks",
    }

    def handle(self, request: dict) -> dict | None:
        """One JSON-RPC message; None for notifications (no response)."""
        method = request.get("method")
        rid = request.get("id")
        if rid is None:
            # JSON-RPC 2.0: ANY message without an id is a notification
            # and MUST NOT receive a response — not only methods under
            # the notifications/ prefix (an "id": null reply to one is a
            # spec violation). Side effects still apply.
            if method == "notifications/initialized":
                self._initialized = True
            return None
        try:
            if method == "initialize":
                params = request.get("params") or {}
                client = params.get("protocolVersion")
                return _ok(rid, {
                    # MCP version negotiation: echo the client's version
                    # when we support it, otherwise answer our latest and
                    # let the client decide (the spec's server behavior)
                    "protocolVersion": client
                    if client in self.SUPPORTED_VERSIONS
                    else self.PROTOCOL_VERSION,
                    "capabilities": {"tools": {}},
                    "serverInfo": {
                        "name": self.SERVER_NAME,
                        "version": __version__,
                    },
                })
            if method == "ping":
                return _ok(rid, {})
            if method == "tools/list":
                return _ok(rid, {"tools": TOOL_DEFINITIONS})
            if method == "tools/call":
                return self._call(rid, request.get("params") or {})
            return _err(rid, -32601, f"method not found: {method}")
        except Exception as e:  # protocol layer must never crash the loop
            return _err(rid, -32603, f"{type(e).__name__}: {e}")

    def _call(self, rid, params: dict) -> dict:
        name = params.get("name")
        args = params.get("arguments") or {}
        if not isinstance(name, str):
            return _err(rid, -32602, "params.name must be a string")
        if not isinstance(args, dict):
            return _err(rid, -32602, "params.arguments must be an object")
        try:
            if name == "sync_status":
                # same record, reference wire shape (state 'succeeded',
                # summary/total/completed) — the bare-RPC surface keeps the
                # raw counters for legacy clients
                result = self.rpc.sync_status_mcp(args)
            else:
                result = self.rpc.call_tool(name, args)
        except MutationOverlap as e:
            # overlap is a tool RESULT with isError, not a protocol error
            # (reference acquireMutation, src/server/index.ts:356-366)
            return _ok(rid, {
                "content": [{"type": "text", "text": str(e)}],
                "isError": True,
            })
        except RpcError as e:
            if e.code == -32601:
                # MCP maps an unknown tool to InvalidParams on tools/call
                return _err(rid, -32602, f"Unknown tool: {name}")
            return _err(rid, e.code, str(e))
        except Exception as e:
            # the reference central-maps handler failures to McpError
            # (src/server/index.ts:436-439 toMcpError)
            return _err(rid, -32603, f"{type(e).__name__}: {e}")
        payload = result
        extra_blocks: list[dict] = []
        if name == "list_files" and isinstance(result, dict):
            # warnings ride as separate text blocks AFTER the primary JSON
            # (reference index.ts:855-874) — the result object itself
            # mirrors ListFilesResult, which carries no warnings field
            payload = {k: v for k, v in result.items() if k != "warnings"}
            extra_blocks = [
                {"type": "text", "text": f"Warning: {w}"}
                for w in result.get("warnings") or ()
            ]
        unwrap = self._UNWRAP.get(name)
        if unwrap is not None and isinstance(result, dict):
            payload = result[unwrap]
        return _ok(rid, {
            "content": [
                {"type": "text", "text": json.dumps(payload, indent=2, default=str)},
                *extra_blocks,
            ]
        })

    def serve(self, stdin, stdout) -> None:
        """MCP stdio transport: newline-delimited JSON-RPC; notifications
        produce no response line."""
        for line in stdin:
            line = line.strip()
            if not line:
                continue
            try:
                request = json.loads(line)
            except ValueError:
                response = _err(None, -32700, "parse error")
            else:
                response = self.handle(request)
            if response is not None:
                stdout.write(json.dumps(response) + "\n")
                stdout.flush()


def _ok(rid, result: dict) -> dict:
    return {"jsonrpc": "2.0", "id": rid, "result": result}


def _err(rid, code: int, message: str) -> dict:
    return {"jsonrpc": "2.0", "id": rid, "error": {"code": code, "message": message}}


def main() -> None:  # pragma: no cover - manual entry point
    import sys

    from .session import get_spark

    table_path = sys.argv[1]
    base_dirs = sys.argv[2:]
    engine = RagEngine(get_spark("rag-server"), table_path)
    rpc = RagRpcServer(engine, base_dirs=base_dirs)
    McpServer(rpc).serve(sys.stdin, sys.stdout)


if __name__ == "__main__":  # pragma: no cover
    main()
