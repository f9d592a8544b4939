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


def test_mid_load_mutation_is_served_then_reloaded(spark, tmp_path, monkeypatch):
    """A write that commits while a snapshot loads (after the stamp read,
    before the rows are read) must not stick: this query answers from the
    rows it read, and the next query sees the stamp moved and reloads the
    new rows. The snapshot is labeled with the stamp read BEFORE the data,
    so a label can only be older than the rows it holds."""
    import pyarrow.dataset as pads

    from mcp_local_rag_spark.embedder import embed_text_column

    table = str(tmp_path / "midload")

    def rows(lo, hi):
        return embed_text_column(
            spark.range(lo, hi).select(
                F.concat(F.lit("/m/d"), F.col("id").cast("string"), F.lit(".md"))
                .alias("filePath"),
                F.lit(0).alias("chunkIndex"),
                F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
            ),
            "text", "vector", dim=16,
        )

    write_chunks(rows(0, 20), table)
    srv = VectorSearchServer(table)
    qv = pseudo_embed("text 3", 16)

    real = pads.dataset
    state = {"armed": True}

    def racy(source, *args, **kw):
        if source != table or not state["armed"]:
            return real(source, *args, **kw)
        state["armed"] = False
        before = real(source, *args, **kw).to_table()  # the rows read...
        write_chunks(rows(20, 40), table, mode="append")  # ...as a write lands
        return pads.InMemoryDataset(before)

    monkeypatch.setattr(pads, "dataset", racy)
    assert len(srv.query(qv, 100)) == 20
    assert not state["armed"]
    got = srv.query(qv, 100)
    assert len(got) == 40
    assert got == [
        {"filePath": r[0], "chunkIndex": r[1], "score": r[2]}
        for r in _spark_topk(spark, table, qv, 100)
    ]
