"""The ``mcp`` workload: one closed-loop client of the MCP stdio server.

Set-up launches the server, syncs the corpus through ``sync_start`` and
``sync_status`` and ends when the first ``query_documents`` is answered.
The timed read phase then sends a seeded, interleaved stream of
``query_documents`` and ``read_chunk_neighbors`` calls for ``seconds``
seconds; the sidecars answer them and Spark does no work. A traced run
adds one write cycle: ``ingest_data`` of a new note, ``ingest_file`` of
an edited corpus file and ``delete_file`` of the note, each followed by
a first query (which pays the sidecar snapshot reload) and a short read
burst.
"""

from __future__ import annotations

import json
import os
import sys
import time

import checks
import layers
from corpus import Corpus, Requests, table_chunks
from mcp_client import McpClient, ToolError
from stats import OpCounter, median, summarize

POLL_S = 0.1  # sync_status polling interval during set-up
WARMUP_REQUESTS = 100
BURST = 10  # reads after each write
TRACE_BLOCK = 20  # traced runs alternate traced and untraced blocks


class McpWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.corpus = Corpus(os.path.join(ctx.work, "corpus"))
        self.reqs = Requests(self.corpus, ctx.seed)
        self.ops = OpCounter()
        self.table = os.path.join(ctx.work, "table")
        self.report_path = os.path.join(ctx.work, "server_report.json")
        self.known = set(self.corpus.files)
        self.chunks: dict[str, int] = {}
        self.client: McpClient | None = None
        self._reads = 0

    # -- requests ---------------------------------------------------------

    def _query(self, args: dict, extra=None):
        """One checked query: (request id, seconds, rows)."""
        try:
            rid, rows, dt = self.client.call("query_documents", args)
        except ToolError as e:
            self.ops.record(error=str(e))
            return None, None, []
        problems = checks.query_rows(rows, args, self.known)
        if extra is not None:
            problems += extra(rows)
        self.ops.record(problems)
        return rid, dt, rows

    def _neighbors(self):
        args = self.reqs.neighbors(self.chunks)
        try:
            rid, rows, dt = self.client.call("read_chunk_neighbors", args)
        except ToolError as e:
            self.ops.record(error=str(e))
            return None, None
        self.ops.record(checks.neighbor_rows(rows, args, self.chunks))
        return rid, dt

    def _read(self):
        """The next read, queries and neighbor windows in turn:
        ("q" | "n", request id, seconds)."""
        self._reads += 1
        if self._reads % 2:
            rid, dt, _ = self._query(self.reqs.query())
            return "q", rid, dt
        rid, dt = self._neighbors()
        return "n", rid, dt

    def _pin(self) -> None:
        """Put the client and the server's serving thread on one CPU, so
        each request is a same-CPU hand-off rather than a cross-CPU
        wake-up, whose cost on a shared VM varies run to run. The
        server's other threads (Spark, Arrow) keep every CPU."""
        cpu = max(os.sched_getaffinity(0))
        os.sched_setaffinity(0, {cpu})
        os.sched_setaffinity(self.client.pid, {cpu})

    def _trace(self, enabled: bool) -> None:
        self.client.request("perfbench/trace", {"enabled": enabled})

    # -- phases -----------------------------------------------------------

    def setup(self) -> dict:
        ctx = self.ctx
        self.corpus.write()
        argv = [sys.executable, os.path.join(ctx.root, "perfbench", "serve.py"),
                "--report", self.report_path]
        if ctx.trace:
            argv.append("--trace")
        argv += ["--", "--table", self.table, "serve", "--base-dir", self.corpus.root]
        t0 = time.perf_counter()
        self.client = McpClient(argv, env=ctx.env, cwd=ctx.work,
                                stderr_path=os.path.join(ctx.work, "server.stderr"))
        self.client.initialize()
        startup_s = time.perf_counter() - t0
        _, job, _ = self.client.call("sync_start", {})
        while True:
            _, status, _ = self.client.call("sync_status", {"jobId": job["jobId"]})
            if status["state"] != "running":
                break
            time.sleep(POLL_S)
        if status["state"] != "succeeded":
            raise RuntimeError(f"sync {status['state']}: {status.get('error')}")
        self._query(self.reqs.query())
        setup_s = time.perf_counter() - t0
        self.chunks = table_chunks(self.table)
        summary = status["summary"]
        problems = []
        if summary["upserted"] + summary["empty"] != len(self.corpus.files):
            problems.append(f"sync summary {summary} for {len(self.corpus.files)} files")
        if not set(self.chunks) <= self.known:
            problems.append("table holds files outside the corpus")
        self.ops.record(problems)
        return {"setup_s": setup_s, "startup_s": startup_s}

    def read_phase(self, seconds: float) -> list[tuple]:
        """Timed reads: (kind, request id, ms, traced) per answered call.
        A traced run alternates blocks with recording on and off."""
        self._pin()
        for _ in range(WARMUP_REQUESTS):
            self._read()
        samples = []
        traced = self.ctx.trace
        count = 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            if self.ctx.trace and count % TRACE_BLOCK == 0:
                traced = (count // TRACE_BLOCK) % 2 == 0
                self._trace(traced)
            kind, rid, dt = self._read()
            count += 1
            if dt is not None:
                samples.append((kind, rid, dt * 1000.0, traced))
        if self.ctx.trace:
            self._trace(True)
        return samples

    def write_phase(self) -> dict:
        rng = self.reqs.rng
        seed = self.ctx.seed
        note = self.reqs.note(0)
        source = f"perfbench-note-{seed}"
        edited = rng.choice(sorted(p for p in self.corpus.files
                                   if p not in self.corpus.long_files))
        with open(edited, "a") as f:
            f.write(self.reqs.note(1) + "\n")
        note_path = None

        def ack_ingest_data(ack):
            nonlocal note_path
            note_path = ack["filePath"]
            self.known.add(note_path)
            return [] if ack["chunkCount"] == 1 else [f"note chunks {ack['chunkCount']}"]

        writes = [
            ("ingest", "ingest_data",
             {"content": note, "metadata": {"source": source, "format": "text"}},
             len(note.encode()), ack_ingest_data,
             lambda: ({"query": note, "limit": 5},
                      lambda rows: checks.ranks_first(rows, note_path))),
            ("ingest", "ingest_file", {"filePath": edited},
             os.path.getsize(edited),
             lambda ack: [] if ack["filePath"] == edited and ack["chunkCount"] >= 1
             else [f"ingest_file ack {ack}"],
             lambda: (self.reqs.query(), None)),
            ("delete", "delete_file", {"source": source}, 0,
             lambda ack: [] if ack["removedChunks"] == 1 else [f"delete ack {ack}"],
             lambda: ({"query": note, "limit": 5},
                      lambda rows: checks.absent(rows, note_path))),
        ]
        out = {"ingest_s": [], "delete_s": [], "raw_ms": [], "first_rids": [],
               "storage": []}
        probe = layers.StorageProbe(self.table)
        for kind, tool, args, content_bytes, check_ack, first in writes:
            before = probe.before()
            try:
                _, ack, dt = self.client.call(tool, args)
            except ToolError as e:
                self.ops.record(error=str(e))
                continue
            self.ops.record(check_ack(ack))
            out[f"{kind}_s"].append(dt)
            out["storage"].append(probe.record(before, kind, content_bytes))
            qargs, extra = first()
            rid, qdt, _ = self._query(qargs, extra)
            if qdt is not None:
                out["raw_ms"].append(qdt * 1000.0)
                out["first_rids"].append(rid)
            self.chunks = table_chunks(self.table)
            for _ in range(BURST):
                self._read()
        return out

    def close(self) -> dict:
        rss = layers.peak_rss_mb(self.client.pid)
        rc = self.client.close(timeout=120)
        if rc != 0:
            raise RuntimeError(f"server exited with code {rc}")
        with open(self.report_path) as f:
            report = json.load(f)
        report["rss_mb"] = rss
        return report

    def abort(self) -> None:
        if self.client is not None:
            self.client.close(timeout=10)


def run(ctx) -> dict:
    w = McpWorkload(ctx)
    try:
        setup = w.setup()
        reads = w.read_phase(ctx.seconds)
        writes = w.write_phase() if ctx.trace else None
        report = w.close()
    except BaseException:
        w.abort()
        raise
    q = [ms for kind, _, ms, _ in reads if kind == "q"]
    n = [ms for kind, _, ms, _ in reads if kind == "n"]
    result = {
        "ops": w.ops,
        "ambient": report["ambient"],
        "end_to_end": {
            "setup_s": setup["setup_s"],
            "query_p50_ms": median(q),
            "neighbors_p50_ms": median(n),
            "rss_mb": report["rss_mb"],
        },
        "detail": {
            "query_ms": summarize(q),
            "neighbors_ms": summarize(n),
            "writes": writes and {k: writes[k] for k in ("ingest_s", "delete_s", "raw_ms")},
            "persisted_rdds_end": report["persisted_rdds_end"],
        },
    }
    if ctx.trace:
        result["per_layer"] = _per_layer(setup, reads, writes, report)
    return result


def _per_layer(setup, reads, writes, report) -> dict:
    spans = report["spans"]
    out = dict.fromkeys((name for name, _ in layers.PER_LAYER), 0.0)
    out.update(layers.span_metrics(spans))
    calls = layers.first_by_rid(spans, "server.call_tool")
    traced = {kind: {rid: ms for k, rid, ms, on in reads if k == kind and on}
              for kind in ("q", "n")}
    plain = {kind: [ms for k, _, ms, on in reads if k == kind and not on]
             for kind in ("q", "n")}
    sidecar = set(traced["q"]) | set(traced["n"])
    out["server.startup_s"] = setup["startup_s"]
    out["server.transport_ms"] = median(
        [ms - layers.span_ms(calls[rid]) for kind in ("q", "n")
         for rid, ms in traced[kind].items() if rid in calls])
    out["server.sidecar_jobs_max"] = max(
        (calls[rid]["jobs"] for rid in sidecar if rid in calls), default=0)
    out["hybrid_serve.cold_load_ms"] = layers.cold_load_ms(spans)
    out["hybrid_serve.reload_ms"] = layers.reload_ms(
        spans, writes["first_rids"], set(traced["q"]))
    out.update(layers.write_metrics(writes))
    out["spark.persisted_rdds_end"] = report["persisted_rdds_end"]
    out["trace.overhead_query_ms"] = (
        layers.median0(list(traced["q"].values())) - layers.median0(plain["q"]))
    out["trace.overhead_neighbors_ms"] = (
        layers.median0(list(traced["n"].values())) - layers.median0(plain["n"]))
    out["trace.coverage_query"] = layers.coverage(spans, "server.call_tool", set(traced["q"]))
    out["trace.coverage_neighbors"] = layers.coverage(
        spans, "server.call_tool", set(traced["n"]))
    return out
