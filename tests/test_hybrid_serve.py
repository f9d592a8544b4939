"""Serving-path hybrid search (operators/hybrid_serve.HybridSearchServer):
row-identical to RagEngine.query_documents over an engine-built corpus,
across grouping modes, scopes, weights, and raw-data rows."""

from __future__ import annotations

import time

import pytest

from mcp_local_rag_spark.engine import RagEngine
from mcp_local_rag_spark.operators.hybrid_serve import HybridSearchServer

DOCS = {
    "spark.md": (
        "# Spark Internals\n\n"
        "Spark shuffles data between executors during wide transformations. "
        "Broadcast joins avoid that shuffle for small dimension tables. "
        "The Catalyst optimizer rewrites logical plans before execution. "
        "Adaptive query execution re-plans stages at runtime boundaries."
    ),
    "cache.md": (
        "# Caching\n\n"
        "Caching hot tables reduces repeated scans across queries. "
        "Storage levels trade memory for recomputation cost in Spark. "
        "Unpersisting frees executor storage for later stages promptly."
    ),
    "sail.md": (
        "# Sailing\n\n"
        "A completely different document about sailing boats across the "
        "northern sea with maritime words and long voyages under sail. "
        "Harbors and anchors share no vocabulary with cluster computing."
    ),
}


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("hsrv")
    d = root / "docs"
    d.mkdir()
    for name, text in DOCS.items():
        (d / name).write_text(text)
    eng = RagEngine(spark, str(root / "chunks"), db_path=str(root / "db"))
    eng.ingest_directory(str(d))
    eng.ingest_data(
        "A raw note about shuffle behavior during join stages in Spark.",
        "note://shuffle",
    )
    eng.optimize()  # fresh postings index — the serving precondition
    return eng


def _engine_rows(eng, q, **kw):
    return [
        (r.filePath, r.chunkIndex, r.text, r.fileTitle, r.score, r.source)
        for r in eng.query_documents(q, **kw).collect()
    ]


def _served_rows(server, q, **kw):
    return [
        (r["filePath"], r["chunkIndex"], r["text"], r["fileTitle"], r["score"], r["source"])
        for r in server.query(q, **kw)
    ]


def _server_of(eng):
    return HybridSearchServer(
        eng.table_path, eng.postings_path, db_path=eng.db_path
    )


def test_parity_with_engine_default_settings(engine):
    server = _server_of(engine)
    for q in ("broadcast joins", "caching storage levels", "sailing the sea",
              "shuffle during wide transformations"):
        assert _served_rows(server, q) == _engine_rows(engine, q), q


def test_parity_across_settings(engine):
    server = _server_of(engine)
    q = "spark shuffle joins"
    for kw in (
        {"grouping": "similar"},
        {"grouping": "related"},
        {"limit": 3},
        {"hybrid_weight": 0.0},
        {"hybrid_weight": 1.0},
        {"max_files": 1},
        {"max_files": 2, "grouping": "related"},
        {"max_distance": 1.2},
    ):
        assert _served_rows(server, q, **kw) == _engine_rows(engine, q, **kw), kw


def test_parity_with_scope(engine, spark):
    server = _server_of(engine)
    # scope to the docs directory (excludes the raw-data row)
    some_path = spark.read.parquet(engine.table_path).select("filePath").first()[0]
    scope_dir = some_path.rsplit("/", 1)[0]
    q = "shuffle joins"
    assert _served_rows(server, q, scope=[scope_dir]) == _engine_rows(
        engine, q, scope=[scope_dir]
    )


def test_raw_data_source_restored(engine):
    server = _server_of(engine)
    rows = server.query("raw note about shuffle", limit=10)
    raw = [r for r in rows if r["source"] is not None]
    assert raw and raw[0]["source"] == "note://shuffle"
    file_rows = [r for r in rows if r["source"] is None]
    assert all(r["filePath"].endswith(".md") for r in file_rows)


def test_warmed_latency_is_millisecond_scale(engine):
    server = _server_of(engine)
    server.query("warm up", limit=10)
    times = []
    for i in range(10):
        t0 = time.time()
        server.query(f"spark query {i}", limit=10)
        times.append(time.time() - t0)
    times.sort()
    assert times[len(times) // 2] < 0.05  # p50 well under the Spark floor


@pytest.mark.slow
def test_randomized_parity_sweep(engine):
    """Seeded randomized sweep: 12 random query/settings combinations —
    the broadest guard on the grouping float-recurrence replication and
    rounding boundaries (any mean/stddev or HALF_UP divergence flips a
    row somewhere in a sweep like this)."""
    import random

    rng = random.Random(714)
    words = (
        "spark shuffle broadcast join cache storage executor catalyst "
        "adaptive sailing harbor anchor voyage maritime table scan stage"
    ).split()
    server = _server_of(engine)
    for i in range(12):
        q = " ".join(rng.sample(words, rng.randint(1, 5)))
        kw = {
            "limit": rng.choice([1, 3, 10, 20]),
            "grouping": rng.choice([None, "similar", "related"]),
            "hybrid_weight": rng.choice([0.0, 0.3, 0.6, 1.0]),
            "max_files": rng.choice([None, 1, 2, 3]),
        }
        if rng.random() < 0.3:
            kw["max_distance"] = rng.choice([0.9, 1.0, 1.2])
        assert _served_rows(server, q, **kw) == _engine_rows(engine, q, **kw), (
            q,
            kw,
        )


def test_sidecar_self_refreshes_on_table_version_change(spark, tmp_path):
    """A mutation from ANOTHER process (simulated: engine mutates, the
    sidecar's invalidate() is never called) must be visible to the
    sidecar on its next query — the table-version check, not the
    in-process hook, is the cross-process staleness cover."""
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text(
        "# A\n\nSpark shuffles data between executors during wide stages."
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_sv"), db_path=str(tmp_path / "db"))
    eng.ingest_directory(str(d))
    server = HybridSearchServer(
        eng.table_path, eng.postings_path, db_path=eng.db_path
    )
    before = server.query("unpersisting frees executor storage", limit=5)
    assert all("unpersist" not in (r["text"] or "") for r in before)
    # out-of-band mutation: new doc lands, sidecar NOT invalidated
    (d / "b.md").write_text(
        "# B\n\nUnpersisting frees executor storage for later stages promptly."
    )
    eng.ingest_file(str(d / "b.md"))
    eng.optimize()
    after = server.query("unpersisting frees executor storage", limit=5)
    assert any("Unpersisting frees" in (r["text"] or "") for r in after)
    assert after == [
        {
            "filePath": r.filePath, "chunkIndex": r.chunkIndex, "text": r.text,
            "fileTitle": r.fileTitle, "score": r.score, "source": r.source,
        }
        for r in eng.query_documents(
            "unpersisting frees executor storage", limit=5
        ).collect()
    ]


def test_mid_load_mutation_is_served_then_reloaded(spark, tmp_path, monkeypatch):
    """A write that commits while the sidecar loads its caches (after the
    stamp read, before the chunk rows are read) must not stick: this
    query answers from the rows it read, and the next query sees the
    stamp moved, drops every cache and serves the new rows, identical to
    the engine."""
    import pyarrow.dataset as pads

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text(
        "# A\n\nSpark shuffles data between executors during wide stages."
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_ml"), db_path=str(tmp_path / "db"))
    eng.ingest_directory(str(d))
    server = _server_of(eng)
    query = "unpersisting frees executor storage"

    real = pads.dataset
    state = {"armed": True, "rows": None}

    def racy(source, *args, **kw):
        if source != eng.table_path or state["armed"] is None:
            return real(source, *args, **kw)
        if state["armed"]:
            state["armed"] = False
            state["rows"] = real(source, *args, **kw).to_table()
            # the write commits while the first chunk read is in flight
            state["armed"] = None
            (d / "b.md").write_text(
                "# B\n\nUnpersisting frees executor storage for later stages."
            )
            eng.ingest_file(str(d / "b.md"))
            eng.optimize()
            state["armed"] = False
        # every chunk read of this query sees the rows as of before it
        return pads.InMemoryDataset(state["rows"])

    monkeypatch.setattr(pads, "dataset", racy)
    first = _served_rows(server, query, limit=5)
    assert first and {r[0] for r in first} == {str(d / "a.md")}
    state["armed"] = None
    after = _engine_rows(eng, query, limit=5)
    assert any(r[0] == str(d / "b.md") for r in after)
    assert _served_rows(server, query, limit=5) == after


def test_term_cache_eviction_keeps_this_querys_hit_terms(engine):
    """Eviction regression: with a tiny cache cap, a query mixing
    already-cached terms with new ones must not KeyError — the evicted
    replacement dict is seeded with the current query's hit terms."""
    server = _server_of(engine)
    server.MAX_CACHED_TERMS = 1  # instance override; every refill evicts
    baseline = HybridSearchServer(
        engine.table_path, engine.postings_path, db_path=engine.db_path
    )
    q1 = "spark shuffles data"
    q2 = "spark harbors anchors"  # 'spark' is a cache hit, rest are new
    server.query(q1, limit=5)
    assert server.query(q2, limit=5) == baseline.query(q2, limit=5)
    # and the cap actually bit (we didn't silently grow past it)
    assert len(server._term_cache) <= 4


def test_stale_postings_raise_unless_stale_ok(spark, tmp_path):
    """The serving-freshness contract (operators/staleness): once the
    chunks table moves past the postings' covers-stamp — the state where
    the ENGINE falls back to the index-free scan, which a serving process
    cannot do — the query raises StaleServingError; optimize() restores
    the strict path."""
    from mcp_local_rag_spark.operators.staleness import StaleServingError

    root = tmp_path
    d = root / "docs"
    d.mkdir()
    (d / "a.md").write_text(
        "# A\n\nSpark shuffles data between executors during wide stages."
    )
    eng = RagEngine(spark, str(root / "chunks_st"), db_path=str(root / "db"))
    eng.ingest_directory(str(d))  # optimize(): postings stamped fresh
    srv = HybridSearchServer(eng.table_path, eng.postings_path,
                             db_path=str(root / "db"))
    fresh = srv.query("shuffle executors")
    assert fresh and fresh[0]["filePath"] == str(d / "a.md")

    # a mutation without the amortized optimize leaves the postings
    # provably lagging (covers stamp != table version)
    (d / "b.md").write_text(
        "# B\n\nBroadcast joins avoid the shuffle for small dimensions."
    )
    eng.ingest_file(str(d / "b.md"))
    assert not eng.index_is_fresh()
    with pytest.raises(StaleServingError, match="stale"):
        srv.query("shuffle executors")
    eng.optimize()
    assert srv.query("shuffle executors")  # strict path restored
