"""Per-layer metrics from a traced run's spans, and the probes they use.

Each metric is the median per call (``_ms``), or the median count per
call (``.jobs``/``.stages``/``.tasks``). A layer that the workload does
not reach reads 0. ``PER_LAYER`` lists every metric, with its unit, in
the order BENCHMARK.json gives them.
"""

from __future__ import annotations

import os

from stats import median

TIMED = {
    # metric prefix -> span name
    "hybrid_serve.query": "hybrid_serve.query",
    "vector_serve.query": "vector_serve.query",
    "embedder.embed_query": "embedder.embed_query",
    "neighbors.read": "neighbors.read",
    "engine.index_is_fresh": "engine.index_is_fresh",
    "search.hybrid_search": "search.hybrid_search",
    "engine.ingest_data": "engine.ingest_data",
    "engine.ingest_file": "engine.ingest_file",
    "engine.delete_document": "engine.delete_document",
    "engine.optimize": "engine.optimize",
    "engine.sync": "engine.sync",
    "engine.ingest_directory": "engine.ingest_directory",
    "plans.ingest.write_chunks": "plans.ingest.write_chunks",
    "plans.ingest.compact_chunks": "plans.ingest.compact_chunks",
    "plans.fts.refresh_postings": "plans.fts.refresh_postings",
    "plans.fts.write_postings": "plans.fts.write_postings",
}
WITH_JOBS = {
    "search.hybrid_search", "engine.ingest_data", "engine.ingest_file",
    "engine.delete_document", "engine.optimize", "engine.sync",
    "engine.ingest_directory", "plans.ingest.write_chunks",
    "plans.ingest.compact_chunks", "plans.fts.refresh_postings",
}
SPLIT = ("engine.query", "engine.neighbors")  # construct / plan / execute


def _per_layer() -> list[tuple[str, str]]:
    out = [
        ("server.startup_s", "s"),
        ("server.transport_ms", "ms"),
        ("server.sidecar_jobs_max", "count"),
        ("hybrid_serve.cold_load_ms", "ms"),
        ("hybrid_serve.reload_ms", "ms"),
    ]
    for prefix in TIMED:
        out.append((f"{prefix}_ms", "ms"))
        if prefix in WITH_JOBS:
            out.append((f"{prefix}.jobs", "count"))
    for prefix in SPLIT:
        for phase in ("construct", "plan", "execute"):
            out.append((f"{prefix}.{phase}_ms", "ms"))
        for count in ("jobs", "stages", "tasks"):
            out.append((f"{prefix}.{count}", "count"))
    out += [
        ("write.ingest_s", "s"),
        ("write.delete_s", "s"),
        ("write.read_after_write_ms", "ms"),
        ("storage.bytes_written", "bytes"),
        ("storage.write_amp", "ratio"),
        ("storage.table_files", "count"),
        ("spark.persisted_rdds_end", "count"),
        ("spark.persisted_rdds_per_query", "count"),
        ("trace.overhead_query_ms", "ms"),
        ("trace.overhead_neighbors_ms", "ms"),
        ("trace.coverage_query", "ratio"),
        ("trace.coverage_neighbors", "ratio"),
    ]
    return out


PER_LAYER = _per_layer()


def span_ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def median0(values: list[float]) -> float:
    """The median, or 0 when the layer saw no call."""
    return median(values) if values else 0.0


def span_metrics(spans: list[dict]) -> dict[str, float]:
    """Median duration and job count per call of every TIMED layer, and
    the construct/plan/execute split of the Spark query and neighbor
    reads."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    out: dict[str, float] = {}
    for prefix, name in TIMED.items():
        group = by_name.get(name, [])
        out[f"{prefix}_ms"] = median0([span_ms(s) for s in group])
        if prefix in WITH_JOBS:
            out[f"{prefix}.jobs"] = median0([s["jobs"] for s in group])
    for prefix in SPLIT:
        for phase in ("construct", "plan", "execute"):
            out[f"{prefix}.{phase}_ms"] = median0(
                [span_ms(s) for s in by_name.get(f"{prefix}.{phase}", [])])
        whole = by_name.get(prefix, [])
        for count in ("jobs", "stages", "tasks"):
            out[f"{prefix}.{count}"] = median0([s[count] for s in whole])
    return out


def coverage(spans: list[dict], parent_name: str, rids: set | None = None) -> float:
    """Median share of a ``parent_name`` span that its direct child spans
    cover, over the requests in ``rids`` (all when None)."""
    parents = {s["id"]: s for s in spans if s["name"] == parent_name
               and (rids is None or s["rid"] in rids)}
    covered: dict[int, float] = {}
    for s in spans:
        if s["parent"] in parents:
            covered[s["parent"]] = covered.get(s["parent"], 0.0) + span_ms(s)
    shares = [covered.get(i, 0.0) / span_ms(p) for i, p in parents.items() if span_ms(p) > 0]
    return median0(shares)


def first_by_rid(spans: list[dict], name: str) -> dict:
    """The first span of ``name`` opened for each request id."""
    out: dict = {}
    for s in sorted(spans, key=lambda s: s["start"]):
        if s["name"] == name and s["rid"] is not None:
            out.setdefault(s["rid"], s)
    return out


def reload_ms(spans: list[dict], first_rids: list, warm_rids: set) -> float:
    """Median over writes of the first query's sidecar time minus the
    warm median of the same span."""
    spans_by_rid = first_by_rid(spans, "hybrid_serve.query")
    warm = median0([span_ms(s) for s in spans
                 if s["name"] == "hybrid_serve.query" and s["rid"] in warm_rids])
    firsts = [span_ms(spans_by_rid[r]) - warm for r in first_rids if r in spans_by_rid]
    return median0(firsts)


def cold_load_ms(spans: list[dict]) -> float:
    """Duration of the process's first sidecar query (loads the snapshot)."""
    first = min((s for s in spans if s["name"] == "hybrid_serve.query"),
                key=lambda s: s["start"], default=None)
    return span_ms(first) if first else 0.0


def peak_rss_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"VmHWM not found for process {pid}")


def storage_files(paths: list[str]) -> dict[str, tuple[int, int]]:
    """(size, mtime) of every file under ``paths``."""
    files = {}
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                st = os.stat(os.path.join(d, n))
                files[os.path.join(d, n)] = (st.st_size, st.st_mtime_ns)
    return files


def write_metrics(writes: dict) -> dict[str, float]:
    """Client-side write latencies and the storage cost of the ingests:
    bytes of files created or rewritten under the table and postings
    dirs, that over the ingested content bytes, and the table's file
    count after each write."""
    out = {
        "write.ingest_s": median0(writes["ingest_s"]),
        "write.delete_s": median0(writes["delete_s"]),
        "write.read_after_write_ms": median0(writes["raw_ms"]),
    }
    ingests = [s for s in writes["storage"] if s["kind"] == "ingest"]
    if ingests:
        out["storage.bytes_written"] = median([s["bytes"] for s in ingests])
        out["storage.write_amp"] = median(
            [s["bytes"] / s["content_bytes"] for s in ingests])
    out["storage.table_files"] = median0([s["table_files"] for s in writes["storage"]])
    return out


class StorageProbe:
    """Files a write creates or rewrites under the table and postings."""

    def __init__(self, table: str):
        self.table = table
        self.dirs = [table, table.rstrip("/") + "_fts"]

    def before(self) -> dict:
        return storage_files(self.dirs)

    def record(self, before: dict, kind: str, content_bytes: int) -> dict:
        after = storage_files(self.dirs)
        written = sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))
        return {"kind": kind, "bytes": written, "content_bytes": content_bytes,
                "table_files": len(storage_files([self.table]))}
