"""The ``engine_spark`` workload: an in-process ``RagEngine`` driven the
way the CLI drives it, so every answer takes the Spark query path.

Set-up assembles the engine as ``cli.main`` does, ingests the corpus with
the CLI ``ingest <dir>`` command (``ingest_directory`` plus optimize) and
ends when the first query is answered. A traced run then adds a write
cycle, before any timed query (queries made outside ``persist_scope``
leave cached frames behind, and writes after them slow down several-fold;
see README): CLI ``ingest`` of a new note file and CLI ``delete`` of it,
each followed by a first query. The timed phase then alternates
``query_documents(...).collect()`` and ``read_chunk_neighbors(...)
.collect()`` for ``seconds`` seconds. Every Spark answer is compared
with the serving sidecars over the same table (``HybridSearchServer``
for queries, ``NeighborServer`` for windows, the CLI ``read-neighbors``
path): the engine states that they answer row for row.
"""

from __future__ import annotations

import io
import json
import os
import time

import checks
import layers
from corpus import Corpus, Requests, table_chunks
from stats import OpCounter, median, summarize


WARMUP_PAIRS = 1


class SparkWorkload:
    def __init__(self, ctx):
        self.ctx = ctx
        self.corpus = Corpus(os.path.join(ctx.work, "corpus"))
        self.reqs = Requests(self.corpus, ctx.seed)
        self.ops = OpCounter()
        self.table = os.path.join(ctx.work, "table")
        self.known = set(self.corpus.files)
        self.tracer = None
        self.engine = None

    def _cli(self, *argv: str) -> dict:
        from mcp_local_rag_spark import cli

        out = io.StringIO()
        rc = cli.run(list(argv), self.engine, out)
        if rc != 0:
            raise RuntimeError(f"cli {argv[0]} exited {rc}")
        return json.loads(out.getvalue().splitlines()[-1])

    def _spanned(self, name: str, traced: bool, fn):
        """``fn(phase)`` timed whole; with tracing, ``phase(name, f)`` runs
        ``f`` inside a child span of ``name``. Returns (result, seconds)."""
        if not traced:
            t0 = time.perf_counter()
            out = fn(lambda _, f: f())
            return out, time.perf_counter() - t0

        def phase(sub, f):
            with self.tracer.span(f"{name}.{sub}"):
                return f()

        with self.tracer.span(name) as whole:
            out = fn(phase)
        return out, whole["end"] - whole["start"]

    def query(self, args: dict, traced: bool = False, extra=None):
        """One checked Spark-path query: (seconds, rows)."""
        eng = self.engine
        scope = [args["scope"]] if "scope" in args else None

        def steps(phase):
            df = phase("construct", lambda: eng.query_documents(
                args["query"], limit=args["limit"], scope=scope,
                max_distance=None, grouping=args.get("grouping")))
            if traced:
                phase("plan", lambda: df._jdf.queryExecution().executedPlan())
            return phase("execute", df.collect)

        try:
            rows, dt = self._spanned("engine.query", traced, steps)
        except Exception as e:  # a failed call counts, the run goes on
            self.ops.record(error=f"{type(e).__name__}: {e}")
            return None, []
        rows = [r.asDict() for r in rows]
        side = self.sidecar.query(args["query"], limit=args["limit"], scope=scope,
                                  grouping=args.get("grouping"))
        problems = checks.query_rows(rows, args, self.known) + checks.same_rows(rows, side)
        if extra is not None:
            problems += extra(rows)
        self.ops.record(problems)
        return dt, rows

    def neighbors(self, traced: bool = False):
        args = self.reqs.neighbors(self.chunks)
        before, after = args.get("before", 2), args.get("after", 2)
        eng = self.engine

        def steps(phase):
            df = phase("construct", lambda: eng.read_chunk_neighbors(
                args["filePath"], args["chunkIndex"], before=before, after=after))
            if traced:
                phase("plan", lambda: df._jdf.queryExecution().executedPlan())
            return phase("execute", df.collect)

        try:
            rows, dt = self._spanned("engine.neighbors", traced, steps)
        except Exception as e:
            self.ops.record(error=f"{type(e).__name__}: {e}")
            return None
        rows = [r.asDict() for r in rows]
        keep = ("filePath", "chunkIndex", "text")
        side = [{k: r[k] for k in keep} for r in self.nserver.read(
            args["filePath"], args["chunkIndex"], before=before, after=after)]
        self.ops.record(checks.neighbor_rows(rows, args, self.chunks)
                        + checks.same_rows(rows, side))
        return dt

    def _request(self, label: str) -> None:
        """Label the spans that follow (setup, write<k>, read)."""
        if self.tracer is not None:
            self.tracer.set_request(label)

    def setup(self) -> dict:
        ctx = self.ctx
        self.corpus.write()
        os.chdir(ctx.work)
        t0 = time.perf_counter()
        from mcp_local_rag_spark.engine import RagEngine
        from mcp_local_rag_spark.operators.hybrid_serve import HybridSearchServer
        from mcp_local_rag_spark.operators.neighbors import NeighborServer
        from mcp_local_rag_spark.session import get_spark

        if ctx.trace:
            from tracer import Tracer, instrument

            self.tracer = Tracer()
            instrument(self.tracer)
            self._request("setup")
        self.engine = RagEngine(get_spark("rag-cli"), self.table)
        startup_s = time.perf_counter() - t0
        ack = self._cli("ingest", self.corpus.root)
        self.sidecar = HybridSearchServer(self.engine.table_path, self.engine.postings_path,
                                          db_path=self.engine.db_path)
        self.nserver = NeighborServer(self.engine.spark, self.engine.table_path)
        self.chunks = table_chunks(self.table)  # the first query's known files
        ingested_s = time.perf_counter() - t0
        first_dt, _ = self.query(self.reqs.query(), traced=ctx.trace)
        if first_dt is None:
            raise RuntimeError("the first query failed")
        setup_s = ingested_s + first_dt
        problems = [] if ack == sum(self.chunks.values()) else [f"ingest ack {ack}"]
        if not set(self.chunks) <= self.known:
            problems.append("table holds files outside the corpus")
        self.ops.record(problems)
        return {"setup_s": setup_s, "startup_s": startup_s}

    def write_phase(self) -> dict:
        note = self.reqs.note(0)
        path = os.path.join(self.corpus.root, "notes", f"note_{self.ctx.seed}.md")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(note + "\n")
        self.known.add(path)
        out = {"ingest_s": [], "delete_s": [], "raw_ms": [], "storage": []}
        probe = layers.StorageProbe(self.table)
        steps = [
            ("ingest", ("ingest", path),
             lambda ack: [] if ack.get("chunkCount") == 1 else [f"ingest ack {ack}"],
             lambda rows: checks.ranks_first(rows, path)),
            ("delete", ("delete", path),
             lambda ack: [] if ack.get("deletedChunks") == 1 else [f"delete ack {ack}"],
             lambda rows: checks.absent(rows, path)),
        ]
        for k, (kind, argv, check_ack, check_rows) in enumerate(steps):
            self._request(f"write{k}")
            before = probe.before()
            t0 = time.perf_counter()
            try:
                ack = self._cli(*argv)
            except Exception as e:
                self.ops.record(error=f"{type(e).__name__}: {e}")
                continue
            out[f"{kind}_s"].append(time.perf_counter() - t0)
            out["storage"].append(probe.record(
                before, kind, len(note.encode()) + 1 if kind == "ingest" else 0))
            self.ops.record(check_ack(ack))
            dt, _ = self.query({"query": note, "limit": 5}, traced=self.ctx.trace,
                               extra=check_rows)
            if dt is not None:
                out["raw_ms"].append(dt * 1000.0)
            self.chunks = table_chunks(self.table)
        os.remove(path)
        self._request("read")
        return out

    def read_phase(self, seconds: float) -> list[tuple]:
        """Timed Spark calls: (kind, ms, traced), after WARMUP_PAIRS
        untimed pairs (the first Spark queries of a process run slower
        while the JVM compiles). A traced run alternates traced and
        untraced pairs."""
        for _ in range(WARMUP_PAIRS):
            self.query(self.reqs.query(), traced=self.ctx.trace)
            self.neighbors(traced=self.ctx.trace)
        samples = []
        count = 0
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            traced = self.ctx.trace and count % 2 == 0
            if self.tracer is not None:
                self.tracer.enabled = traced
            dt, _ = self.query(self.reqs.query(), traced=traced)
            if dt is not None:
                samples.append(("q", dt * 1000.0, traced))
            dt = self.neighbors(traced=traced)
            if dt is not None:
                samples.append(("n", dt * 1000.0, traced))
            count += 1
        if self.tracer is not None:
            self.tracer.enabled = True
        return samples

    def persisted(self) -> int:
        return self.engine.spark.sparkContext._jsc.getPersistentRDDs().size()

    def close(self) -> dict:
        import bench
        from serve import stop_spark

        report = {"rss_mb": layers.peak_rss_mb(), "persisted_rdds_end": self.persisted(),
                  "ambient": bench._ambient_control(self.engine.spark)}
        stop_spark(self.engine.spark)
        self.engine = None
        return report

    def abort(self) -> None:
        if self.engine is not None:
            from serve import stop_spark

            stop_spark(self.engine.spark)


def run(ctx) -> dict:
    w = SparkWorkload(ctx)
    try:
        setup = w.setup()
        writes = w.write_phase() if ctx.trace else None
        persisted_before = w.persisted()
        reads = w.read_phase(ctx.seconds)
        report = w.close()
    except BaseException:
        w.abort()
        raise
    q = [ms for kind, ms, _ in reads if kind == "q"]
    n = [ms for kind, ms, _ in reads if kind == "n"]
    leaked = report["persisted_rdds_end"] - persisted_before
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
            "writes": writes,
            "persisted_rdds_end": report["persisted_rdds_end"],
            "persisted_rdds_leaked_by_queries": leaked,
        },
    }
    if ctx.trace:
        spans = w.tracer.export()
        out = dict.fromkeys((name for name, _ in layers.PER_LAYER), 0.0)
        out.update(layers.span_metrics(spans))
        traced_q = [ms for kind, ms, on in reads if kind == "q" and on]
        traced_n = [ms for kind, ms, on in reads if kind == "n" and on]
        out["server.startup_s"] = setup["startup_s"]
        out["hybrid_serve.cold_load_ms"] = layers.cold_load_ms(spans)
        out["spark.persisted_rdds_end"] = report["persisted_rdds_end"]
        out["spark.persisted_rdds_per_query"] = leaked / (len(q) + WARMUP_PAIRS)
        out["trace.overhead_query_ms"] = layers.median0(traced_q) - layers.median0(
            [ms for kind, ms, on in reads if kind == "q" and not on])
        out["trace.overhead_neighbors_ms"] = layers.median0(traced_n) - layers.median0(
            [ms for kind, ms, on in reads if kind == "n" and not on])
        out.update(layers.write_metrics(writes))
        out["hybrid_serve.reload_ms"] = layers.reload_ms(spans, ["write0", "write1"], {"read"})
        out["trace.coverage_query"] = layers.coverage(spans, "engine.query")
        out["trace.coverage_neighbors"] = layers.coverage(spans, "engine.neighbors")
        result["per_layer"] = out
    return result
