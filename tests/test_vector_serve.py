"""Serving-path vector search (operators/vector_serve.VectorSearchServer):
row-identical to the Spark operator under every filter combination, plus
the serving properties (snapshot semantics, latency-path sanity)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.embedder import pseudo_embed
from mcp_local_rag_spark.operators import search
from mcp_local_rag_spark.operators.vector_serve import VectorSearchServer
from mcp_local_rag_spark.plans.ingest import write_chunks


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    table = str(tmp_path_factory.mktemp("vsrv") / "chunks")
    rows = spark.range(500).select(
        F.concat(
            F.lit("/corpus/src"),
            (F.col("id") % 7).cast("string"),
            F.lit("/doc"),
            (F.col("id") % 40).cast("string"),
            F.lit(".md"),
        ).alias("filePath"),
        (F.col("id") / 40).cast("int").alias("chunkIndex"),
        F.concat(F.lit("chunk text number "), F.col("id").cast("string")).alias(
            "text"
        ),
    )
    from mcp_local_rag_spark.embedder import embed_text_column

    write_chunks(embed_text_column(rows, "text", "vector", dim=32), table)
    return table


def _spark_topk(spark, table, qv, k, **kw):
    chunks = spark.read.parquet(table)
    pool = search.vector_topk(chunks, qv, k=k, **kw)
    rows = [
        (r.filePath, r.chunkIndex, r.score)
        for r in pool.select("filePath", "chunkIndex", "score").collect()
    ]
    rows.sort(key=lambda t: (t[2], t[0], t[1]))
    return rows[:k]


def _served(server, qv, k, **kw):
    return [
        (r["filePath"], r["chunkIndex"], r["score"])
        for r in server.query(qv, k, **kw)
    ]


def test_parity_with_spark_operator(spark, corpus):
    server = VectorSearchServer(corpus)
    for i in range(5):
        qv = pseudo_embed(f"query {i}", 32)
        assert _served(server, qv, 10) == _spark_topk(spark, corpus, qv, 10)


def test_parity_under_scope_and_max_distance(spark, corpus):
    server = VectorSearchServer(corpus)
    qv = pseudo_embed("scoped", 32)
    for kw in (
        {"scope": ["/corpus/src3"]},
        {"scope": ["/corpus/src1", "/corpus/src5"]},
        {"scope": ["/"]},
        {"max_distance": 1.0},
        {"scope": ["/corpus/src2"], "max_distance": 1.05},
    ):
        assert _served(server, qv, 10, **kw) == _spark_topk(
            spark, corpus, qv, 10, **kw
        ), kw
    # scope separator boundary: '/corpus/src3' must not match '/corpus/src33'
    assert all(
        r["filePath"].startswith("/corpus/src3/")
        for r in server.query(qv, 10, scope=["/corpus/src3"])
    )


def test_snapshot_and_invalidate(spark, corpus, tmp_path):
    server = VectorSearchServer(corpus)
    qv = pseudo_embed("snap", 32)
    before = _served(server, qv, 5)
    assert len(before) == 5
    # the matrix is a snapshot: a table rewrite is invisible until
    # invalidate() — then the reload sees the new rows
    server.invalidate()
    assert _served(server, qv, 5) == before  # reload of same data agrees


def test_empty_and_edge_cases(tmp_path, spark):
    table = str(tmp_path / "chunks_empty")
    from mcp_local_rag_spark.embedder import embed_text_column

    rows = spark.range(3).select(
        F.lit("/d/one.md").alias("filePath"),
        F.col("id").cast("int").alias("chunkIndex"),
        F.lit("words here").alias("text"),
    )
    write_chunks(embed_text_column(rows, "text", "vector", dim=8), table)
    server = VectorSearchServer(table)
    qv = pseudo_embed("q", 8)
    assert server.query(qv, 0) == []
    assert len(server.query(qv, 10)) == 3  # k beyond corpus size
    assert server.query(qv, 5, scope=["/nowhere"]) == []
    assert server.query(qv, 5, max_distance=-1.0) == []


def test_warmed_query_latency_is_millisecond_scale(corpus):
    """The point of the serving path: warmed per-query latency must sit
    orders of magnitude under the Spark job floor. Generous bound (50 ms)
    to stay robust on a loaded CI box; measured ~1 ms at 500 rows."""
    server = VectorSearchServer(corpus)
    qv = pseudo_embed("warm", 32)
    server.query(qv, 10)  # load + warm
    times = []
    for i in range(20):
        t0 = time.time()
        server.query(pseudo_embed(f"q{i}", 32), 10)
        times.append(time.time() - t0)
    times.sort()
    assert times[int(len(times) * 0.95) - 1] < 0.05


def test_parity_under_total_score_ties(spark, tmp_path):
    """Constant-vector corpus (the reference's own perf-test fixture
    shape): every score ties, so ranking is purely the (filePath,
    chunkIndex) tie-break — the frontier/tie-cap path must agree with
    Spark row-for-row."""
    from mcp_local_rag_spark.embedder import embed_text_column

    rows = spark.range(300).select(
        F.concat(
            F.lit("/t/doc"), (F.col("id") % 37).cast("string"), F.lit(".md")
        ).alias("filePath"),
        (F.col("id") / 37).cast("int").alias("chunkIndex"),
        F.lit("identical text").alias("text"),  # constant -> constant vectors
    )
    table = str(tmp_path / "chunks_ties")
    write_chunks(embed_text_column(rows, "text", "vector", dim=16), table)
    server = VectorSearchServer(table)
    qv = pseudo_embed("any query", 16)
    assert _served(server, qv, 10) == _spark_topk(spark, table, qv, 10)
    # and k beyond the tie frontier
    assert _served(server, qv, 20) == _spark_topk(spark, table, qv, 20)


def test_unversioned_table_never_pins_a_stale_snapshot(spark, tmp_path):
    """A table with NO version stamp (legacy layout: plain parquet, no
    meta sidecar) can't prove snapshot coverage — the server must treat
    None as never-covered and reload per query, so an external mutation
    is visible without any invalidate() call."""
    from mcp_local_rag_spark.embedder import embed_text_column

    table = str(tmp_path / "legacy_chunks")

    def _write(n):
        rows = spark.range(n).select(
            F.concat(F.lit("/l/doc"), F.col("id").cast("string"), F.lit(".md")).alias(
                "filePath"
            ),
            F.lit(0).alias("chunkIndex"),
            F.concat(F.lit("legacy text "), F.col("id").cast("string")).alias("text"),
        )
        embed_text_column(rows, "text", "vector", dim=16).write.mode(
            "overwrite"
        ).parquet(table)

    _write(3)
    server = VectorSearchServer(table)
    qv = pseudo_embed("legacy text 7", 16)
    assert len(server.query(qv, 10)) == 3
    _write(8)  # out-of-band mutation, no invalidate(), no version bump
    got = server.query(qv, 10)
    assert len(got) == 8
    assert got == [
        {"filePath": r[0], "chunkIndex": r[1], "score": r[2]}
        for r in _spark_topk(spark, table, qv, 10)
    ]


def test_at_version_pins_a_consistent_snapshot(spark, tmp_path):
    """at_version (operators/staleness): queries pinned to one table
    content stamp keep reading that snapshot while mutations land; an
    unreachable pin raises StaleServingError (plans/secondary's
    at_source_version contract, uniform across the serving tier)."""
    from mcp_local_rag_spark.embedder import embed_text_column
    from mcp_local_rag_spark.operators.staleness import StaleServingError
    from mcp_local_rag_spark.plans.ingest import table_content_stamp

    table = str(tmp_path / "pin_chunks")
    rows = spark.range(40).select(
        F.concat(F.lit("/p/d"), F.col("id").cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        F.lit(0).alias("chunkIndex"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(embed_text_column(rows, "text", "vector", dim=32), table)
    srv = VectorSearchServer(table)
    qv = pseudo_embed("text 7", 32)
    v1 = table_content_stamp(table)
    pinned = srv.query(qv, 5, at_version=v1)
    assert len(pinned) == 5

    # mutation lands; an unpinned query self-refreshes, the pinned one
    # keeps serving the v1 snapshot from the resident cache
    extra = spark.range(40, 80).select(
        F.concat(F.lit("/p/x"), F.col("id").cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        F.lit(0).alias("chunkIndex"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(
        embed_text_column(extra, "text", "vector", dim=32), table, mode="append"
    )
    v2 = table_content_stamp(table)
    assert v2 != v1
    assert srv.query(qv, 5, at_version=v1) == pinned  # pinned: stable
    fresh = srv.query(qv, 80, at_version=v2)
    assert len(fresh) == 80  # the new stamp serves the grown corpus
    # v1 is no longer resident (the v2 load replaced the snapshot)
    with pytest.raises(StaleServingError, match="not reachable"):
        srv.query(qv, 5, at_version=v1)
    with pytest.raises(StaleServingError, match="not reachable"):
        srv.query(qv, 5, at_version="nonsense")
    # stale_ok is accepted (uniform surface) and a no-op here
    assert srv.query(qv, 80, stale_ok=True) == fresh


def test_mid_load_mutation_never_mislabels_a_pinned_snapshot(
    spark, tmp_path, monkeypatch
):
    """Round-13 review finding: the stamp used to be read only BEFORE the
    data, so a mutation landing mid-load produced newer data cached under
    the old stamp — which an at_version pin then served forever as 'the
    pinned snapshot'. The stability loop re-reads the stamp after the
    data; a load that lands past the pin raises instead of lying, and the
    snapshot is labeled with the version it actually holds."""
    from mcp_local_rag_spark.embedder import embed_text_column
    from mcp_local_rag_spark.operators import vector_serve as vs_mod
    from mcp_local_rag_spark.operators.staleness import StaleServingError
    from mcp_local_rag_spark.plans.ingest import table_content_stamp

    table = str(tmp_path / "midload")
    rows = spark.range(20).select(
        F.concat(F.lit("/m/d"), F.col("id").cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        F.lit(0).alias("chunkIndex"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(embed_text_column(rows, "text", "vector", dim=16), table)
    v1 = table_content_stamp(table)
    srv = VectorSearchServer(table)
    qv = pseudo_embed("text 3", 16)

    # simulate: the pre-read stamp says v1, every later read says v2
    # (an ingest committed between the stamp read and the data read)
    calls = {"n": 0}
    import mcp_local_rag_spark.plans.ingest as ingest_mod

    real = ingest_mod.table_content_stamp

    def racy(path):
        calls["n"] += 1
        return v1 if calls["n"] == 1 else "v2-after-mutation"

    monkeypatch.setattr(ingest_mod, "table_content_stamp", racy)
    with pytest.raises(StaleServingError, match="moved past pinned"):
        srv.query(qv, 3, at_version=v1)
    # the resident snapshot is labeled with what it actually holds (the
    # POST stamp), never the pre-read v1 — so a later v1 pin cannot hit
    # a contaminated cache
    assert srv._snap[4] == "v2-after-mutation"
    with pytest.raises(StaleServingError, match="not reachable"):
        srv.query(qv, 3, at_version=v1)
    monkeypatch.setattr(ingest_mod, "table_content_stamp", real)

    # a stamp that NEVER stabilizes labels the snapshot None: servable,
    # never cacheable/pinnable (the next query reloads)
    calls2 = {"n": 0}

    def thrash(path):
        calls2["n"] += 1
        return f"v{calls2['n']}"

    monkeypatch.setattr(ingest_mod, "table_content_stamp", thrash)
    srv2 = VectorSearchServer(table)
    assert len(srv2.query(qv, 3)) == 3  # still serves
    assert srv2._snap[4] is None
    monkeypatch.setattr(ingest_mod, "table_content_stamp", real)
    assert len(srv2.query(qv, 3)) == 3
    assert srv2._snap[4] == table_content_stamp(table)  # healed
