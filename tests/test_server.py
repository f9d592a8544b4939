"""Stdio JSON-RPC serving adapter (mcp_local_rag_spark/server.py): the
reference tool surface driven end-to-end over a real pipe."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from mcp_local_rag_spark.engine import RagEngine
from mcp_local_rag_spark.server import RagRpcServer

DOC = (
    "# Serving Doc\n\n"
    "Spark shuffles data between executors during wide transformations. "
    "Broadcast joins avoid that shuffle for small dimension tables. "
    "Caching hot tables reduces repeated scans across queries."
)


@pytest.fixture()
def served(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "serve.md").write_text(DOC)
    eng = RagEngine(spark, str(tmp_path / "chunks_srv"))
    eng.ingest_directory(str(d))
    return RagRpcServer(eng), d


def _call(server, method, params=None, rid=1):
    return server.handle(
        {"jsonrpc": "2.0", "id": rid, "method": method, "params": params or {}}
    )


def test_tool_surface_end_to_end(served):
    server, d = served

    status = _call(server, "get_status")["result"]
    assert status["documentCount"] == 1 and status["chunkCount"] >= 1

    res = _call(server, "query_documents", {"query": "broadcast joins", "limit": 3})
    hits = res["result"]["results"]
    assert hits and hits[0]["filePath"].endswith("serve.md")
    assert all("text" in h and "score" in h for h in hits)

    fp = hits[0]["filePath"]
    nb = _call(
        server, "read_chunk_neighbors", {"filePath": fp, "chunkIndex": hits[0]["chunkIndex"]}
    )["result"]["chunks"]
    assert nb and all(c["filePath"] == fp for c in nb)
    assert [c["chunkIndex"] for c in nb] == sorted(c["chunkIndex"] for c in nb)

    docs = _call(server, "list_documents")["result"]["documents"]
    assert {doc["filePath"] for doc in docs} == {fp}

    # mutating tools: ingest_data then delete round-trips through the guard
    res = _call(
        server,
        "ingest_data",
        {
            "content": "A raw document with one full sentence of real content to chunk.",
            "source": "https://example.com/raw",
        },
    )["result"]
    assert res["chunkCount"] >= 1
    assert _call(server, "get_status")["result"]["documentCount"] == 2


def test_validation_and_error_codes(served):
    server, _ = served
    assert _call(server, "no_such_tool")["error"]["code"] == -32601
    assert (
        _call(server, "query_documents", {"query": "  "})["error"]["code"] == -32602
    )
    assert (
        _call(server, "query_documents", {"query": "x", "limit": 0})["error"]["code"]
        == -32602
    )
    assert (
        _call(server, "query_documents", {"query": "x", "limit": "5"})["error"]["code"]
        == -32602
    )
    assert (
        _call(server, "read_chunk_neighbors", {"filePath": 3, "chunkIndex": "a"})[
            "error"
        ]["code"]
        == -32602
    )
    assert _call(server, "sync_status", {"jobId": "nope"})["error"]["code"] == -32602
    # execution failures surface as -32000, not a crashed dispatcher
    assert (
        _call(server, "ingest_file", {"filePath": "/does/not/exist.md"})["error"][
            "code"
        ]
        == -32000
    )


def test_sync_job_lifecycle(served):
    server, d = served
    (d / "late.md").write_text(
        "# Late\n\nA second document that arrives between syncs with enough text."
    )
    job = _call(server, "sync_start", {"path": str(d)})["result"]
    assert "jobId" in job  # returned immediately, run is background
    deadline = time.time() + 120
    while time.time() < deadline:
        rec = _call(server, "sync_status", {"jobId": job["jobId"]})["result"]
        if rec["state"] != "running":
            break
        time.sleep(0.5)
    assert rec["state"] == "completed", rec
    assert rec["counters"].get("upsert_new", 0) >= 1
    assert _call(server, "get_status")["result"]["documentCount"] == 2


def test_serve_loop_over_real_pipe(served):
    """The stdio loop itself: requests written to a real OS pipe, responses
    read back line-by-line; malformed JSON answers -32700 and the loop
    survives to serve the next request."""
    server, _ = served
    in_r, in_w = os.pipe()
    out_r, out_w = os.pipe()
    stdin = os.fdopen(in_r, "r")
    stdout = os.fdopen(out_w, "w")
    t = threading.Thread(target=server.serve, args=(stdin, stdout), daemon=True)
    t.start()

    writer = os.fdopen(in_w, "w")
    reader = os.fdopen(out_r, "r")
    writer.write("this is not json\n")
    writer.write(
        json.dumps(
            {"jsonrpc": "2.0", "id": 7, "method": "query_documents",
             "params": {"query": "shuffle", "limit": 2}}
        )
        + "\n"
    )
    writer.flush()

    bad = json.loads(reader.readline())
    assert bad["error"]["code"] == -32700
    good = json.loads(reader.readline())
    assert good["id"] == 7 and good["result"]["results"]

    writer.close()
    t.join(timeout=30)
    assert not t.is_alive()  # EOF ends the session


def test_read_tools_retry_once_mutations_do_not(served, monkeypatch):
    """A transient failure in a read tool (the read-during-background-sync
    file-listing race) is retried once after a catalog refresh; mutating
    tools surface the error immediately (retrying a half-applied mutation
    would double-apply it)."""
    server, _ = served

    calls = {"n": 0}

    def flaky(params):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("FileNotFoundException: underlying files changed")
        return {"ok": True}

    server._methods["get_status"] = (flaky, False)
    res = _call(server, "get_status")
    assert res["result"] == {"ok": True} and calls["n"] == 2

    calls["n"] = 0
    server._methods["delete_document"] = (flaky, True)
    res = _call(server, "delete_document", {"filePath": "/x.md"})
    assert res["error"]["code"] == -32000 and calls["n"] == 1


def test_query_documents_batch_tool(served):
    server, _ = served
    res = _call(
        server, "query_documents_batch",
        {"queries": ["broadcast joins", "caching hot tables"], "limit": 2},
    )
    groups = res["result"]["results"]
    assert len(groups) == 2 and all(g for g in groups)
    assert all(h["filePath"].endswith("serve.md") for g in groups for h in g)
    # validation
    assert (
        _call(server, "query_documents_batch", {"queries": []})["error"]["code"]
        == -32602
    )
    assert (
        _call(server, "query_documents_batch", {"queries": ["x", 3]})["error"]["code"]
        == -32602
    )


def test_mutation_guard_rejects_overlap_without_blocking(served):
    """While one mutation holds the guard, a second mutating request is
    REJECTED immediately (the reference's acquireMutation overlap
    response, src/server/index.ts:397-399) — it must not block the
    single-threaded serve loop — and read-only tools still answer."""
    server, _ = served
    assert server._write_guard.acquire(blocking=False)  # simulate running sync
    try:
        t0 = time.time()
        res = _call(server, "delete_document", {"filePath": "/x.md"})
        assert res["error"]["code"] == -32000
        assert "in progress" in res["error"]["message"]
        assert time.time() - t0 < 5  # immediate, not a guard timeout
        # reads bypass the guard entirely
        assert _call(server, "get_status")["result"]["documentCount"] == 1
    finally:
        server._write_guard.release()
    # guard free again: mutations proceed
    res = _call(server, "ingest_data", {"content": "# T\n\n" + DOC, "source": "note://t"})
    assert "error" not in res


def test_query_param_validation(served):
    """maxDistance and grouping are validated at the protocol boundary:
    bad values answer -32602 (invalid params), never a -32000 engine
    stack trace."""
    server, _ = served
    for bad in ({"maxDistance": -0.5}, {"maxDistance": "close"},
                {"maxDistance": True}, {"grouping": "clusters"}):
        res = _call(server, "query_documents", {"query": "x", **bad})
        assert res["error"]["code"] == -32602, (bad, res)
    ok = _call(server, "query_documents",
               {"query": "broadcast", "maxDistance": 2.0, "grouping": "similar"})
    assert "result" in ok


def test_query_fast_path_matches_spark_path(served):
    """With a fresh index the adapter answers query_documents from the
    hybrid sidecar; the rows must be IDENTICAL to the Spark pipeline's,
    and a mutation must route back to the Spark path until optimize."""
    server, _ = served
    assert server.engine.index_is_fresh()
    q = {"query": "broadcast joins avoid shuffle", "limit": 5}
    fast = _call(server, "query_documents", q)["result"]["results"]
    spark_rows = [
        r.asDict()
        for r in server.engine.query_documents(q["query"], limit=5).collect()
    ]
    assert fast == spark_rows
    # a mutation marks the index stale -> the adapter falls back (still
    # correct, just the Spark path); optimize() restores the fast path
    _call(server, "ingest_data", {"content": "# N\n\n" + DOC, "source": "note://n2"})
    assert server.engine.index_is_fresh()  # handler ran optimize()
    after = _call(server, "query_documents", q)["result"]["results"]
    spark_after = [
        r.asDict()
        for r in server.engine.query_documents(q["query"], limit=5).collect()
    ]
    assert after == spark_after


def test_batch_fast_path_matches_spark_path(served):
    """The batch fast path serves each query from the sidecar; rows (incl.
    the query_index wire field and per-group ordering) must be identical
    to the Spark batch pipeline's."""
    server, _ = served
    assert server.engine.index_is_fresh()
    qs = ["broadcast joins", "caching hot tables"]
    fast = _call(server, "query_documents_batch", {"queries": qs, "limit": 3})[
        "result"
    ]["results"]
    spark_rows = [
        r.asDict()
        for r in server.engine.query_documents_batch(qs, limit=3).collect()
    ]
    grouped = [[], []]
    for r in spark_rows:
        grouped[int(r["query_index"])].append(r)
    for g in grouped:
        g.sort(key=lambda r: (r["score"], r["filePath"], r["chunkIndex"]))
    assert fast == grouped


def test_request_cache_hygiene(served, spark):
    """Requests leave the cache manager as they found it, never the
    blanket clearCache() of old: a pre-warmed cached frame must survive
    unrelated requests, and a request loop must not grow the cache
    manager."""
    server, _ = served
    # force the SPARK query path: the hybrid sidecar never persists, and
    # neither does hybrid_search (collected stages, LocalRelation answer)
    # — the loop pins that no request leaves a cache behind
    server.engine.index_is_fresh = lambda: False
    warm = spark.range(100).selectExpr("id", "id * 2 as v").persist()
    assert warm.count() == 100
    # the module-scoped session may carry other tests' caches: the
    # contract is NO GROWTH across the request loop, not an empty session
    n_before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    try:
        jvm_cm = spark._jsparkSession.sharedState().cacheManager()
        for i in range(8):
            res = _call(server, "query_documents", {"query": "broadcast joins", "limit": 3})
            assert res["result"]["results"]
        # the warm frame is still cached (storage level retained)
        assert warm.storageLevel.useMemory
        assert not jvm_cm.lookupCachedData(warm._jdf).isEmpty()
        # and the loop left no per-request residue behind it
        n_after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
        assert n_after <= n_before + 1, (n_before, n_after)
    finally:
        warm.unpersist()


def test_metrics_tool(served):
    """Per-tool observability: calls/errors counted, latency percentiles
    over the bounded reservoir, errors recorded as errors."""
    server, _ = served
    for _ in range(3):
        _call(server, "get_status")
    _call(server, "query_documents", {"query": "  "})  # validation error
    res = _call(server, "metrics")["result"]
    assert res["uptime_s"] > 0
    st = res["tools"]["get_status"]
    assert st["calls"] >= 3 and st["errors"] == 0
    assert st["p50_ms"] is not None and st["p95_ms"] >= st["p50_ms"]
    qd = res["tools"]["query_documents"]
    assert qd["errors"] >= 1
