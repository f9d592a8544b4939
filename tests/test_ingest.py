"""End-to-end ingest -> chunks table -> search, on a temp directory of
md/txt files (the reference's Phase-1 slice, SURVEY §7)."""

import os

import pytest

from mcp_local_rag_spark.embedder import pseudo_embed
from mcp_local_rag_spark.operators import search
from mcp_local_rag_spark.operators.neighbors import read_neighbors
from mcp_local_rag_spark.plans.ingest import (
    delete_document,
    ingest_directory,
    write_chunks,
)
from mcp_local_rag_spark.sources.parsers import extract_md_title, extract_txt_title
from mcp_local_rag_spark.sources.scan import scan_directory

DOC_MD = """---
title: Spark Joins
---

# Ignored H1

Spark supports broadcast hash joins for small tables and they are fast enough.
Sort merge joins shuffle both sides by the join keys before merging sorted runs.

----

Completely different paragraph about cooking pasta with tomato sauce and basil.
"""

DOC_TXT = """My Plain Title

Body line one talks about streaming watermarks and late arriving data handling.
"""


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    (d / "joins.md").write_text(DOC_MD)
    (d / "notes.txt").write_text(DOC_TXT)
    (d / "skip.bin").write_text("not supported")
    sub = d / "deep"
    sub.mkdir()
    (sub / "extra.md").write_text("# Extra\n\nA sufficiently long sentence about extra content lives here today.\n")
    return str(d)


def test_scan_directory(corpus_dir):
    scan = scan_directory(corpus_dir)
    names = {os.path.basename(f["path"]) for f in scan.files}
    assert names == {"joins.md", "notes.txt", "extra.md"}
    assert scan.unobserved_prefixes == []


def test_title_extraction():
    assert extract_md_title(DOC_MD, "/x/joins.md") == "Spark Joins"
    assert extract_md_title("# H1 Title\n\nbody", "/x/a.md") == "H1 Title"
    assert extract_md_title("no title here", "/x/fallback.md") == "fallback"
    assert extract_txt_title(DOC_TXT, "/x/notes.txt") == "My Plain Title"
    assert extract_txt_title("line1\nline2", "/x/notes.txt") == "notes"


def test_ingest_to_search_end_to_end(spark, corpus_dir, tmp_path):
    chunks, unobserved = ingest_directory(spark, corpus_dir)
    table = str(tmp_path / "chunks")
    write_chunks(chunks, table)
    stored = spark.read.parquet(table)
    n_before = stored.count()
    assert n_before > 0
    md_rows = stored.filter(stored.filePath.endswith("joins.md")).collect()
    assert md_rows and all(r.fileTitle == "Spark Joins" for r in md_rows)
    assert all(r.contentHash and len(r.contentHash) == 64 for r in md_rows)
    assert all(r.metadata.fileType == "md" for r in md_rows)

    # search: query with the exact text of an ingested sentence -> its chunk
    # must rank first (pseudo-embeddings are hash-based: identical text,
    # identical vector)
    target = min(md_rows, key=lambda r: r.chunkIndex)
    qv = pseudo_embed(target.text)
    hits = search.vector_topk(stored, qv, k=3, overfetch=1).collect()
    assert hits[0].filePath.endswith("joins.md")
    assert hits[0].score <= 1e-6

    # neighbors: frame read around the first chunk of joins.md
    neigh = read_neighbors(stored, target.filePath, target.chunkIndex).collect()
    assert any(r.chunkIndex == target.chunkIndex for r in neigh)

    # delete-and-replace idempotence (S8)
    n = delete_document(spark, table, target.filePath)
    assert n == len(md_rows)
    left = spark.read.parquet(table)
    assert left.filter(left.filePath == target.filePath).count() == 0
    assert left.count() == n_before - n


def test_neighbor_server(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators.neighbors import NeighborServer

    table = str(tmp_path / "chunks")
    rows = spark.range(100).select(
        F.concat(F.lit("/corpus/doc"), (F.col("id") % 4).cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        (F.col("id") / 4).cast("int").alias("chunkIndex"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(rows, table)
    server = NeighborServer(spark, table)

    # default frame: target +/- 2, ascending, only the requested doc
    frame = server.read("/corpus/doc1.md", 10)
    assert [r["chunkIndex"] for r in frame] == [8, 9, 10, 11, 12]
    assert all(r["filePath"] == "/corpus/doc1.md" for r in frame)

    # clamp at zero, asymmetric spans
    assert [r["chunkIndex"] for r in server.read("/corpus/doc2.md", 1)] == [0, 1, 2, 3]
    assert [
        r["chunkIndex"] for r in server.read("/corpus/doc0.md", 20, before=0, after=1)
    ] == [20, 21]

    # agrees with the in-plan DataFrame operator
    df_rows = read_neighbors(spark.read.parquet(table), "/corpus/doc1.md", 10).collect()
    assert [r.chunkIndex for r in df_rows] == [r["chunkIndex"] for r in frame]

    # a negative target (unvalidated CLI / direct engine path) returns an
    # EMPTY frame, never INVALID_LIMIT_LIKE_EXPRESSION from limit(hi-lo+1)
    # going negative (round-14 advice)
    assert read_neighbors(spark.read.parquet(table), "/corpus/doc1.md", -5).collect() == []
    assert server.read("/corpus/doc1.md", -5) == []


def test_neighbor_server_survives_delete_and_compact(spark, tmp_path):
    """Bucket rewrites replace the files behind cached dataset handles; the
    SAME server instance must keep answering correctly afterwards
    (stale-footer self-heal / invalidate)."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators.neighbors import NeighborServer
    from mcp_local_rag_spark.plans.ingest import compact_chunks

    table = str(tmp_path / "chunks_inval")
    rows = spark.range(40).select(
        F.concat(F.lit("/c/doc"), (F.col("id") % 2).cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        (F.col("id") / 2).cast("int").alias("chunkIndex"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(rows, table)
    server = NeighborServer(spark, table)
    # warm the cache for both docs' buckets
    assert [r["chunkIndex"] for r in server.read("/c/doc0.md", 5)] == [3, 4, 5, 6, 7]
    assert len(server.read("/c/doc1.md", 5)) == 5

    # delete doc1 and compact: every touched bucket is rewritten
    delete_document(spark, table, "/c/doc1.md")
    compact_chunks(spark, table)
    server.invalidate()
    assert server.read("/c/doc1.md", 5) == []
    assert [r["chunkIndex"] for r in server.read("/c/doc0.md", 5)] == [3, 4, 5, 6, 7]

    # self-heal without explicit invalidate: rewrite again under the
    # re-cached handles, then read through the same instance
    delete_document(spark, table, "/c/doc0.md")
    compact_chunks(spark, table)
    assert server.read("/c/doc0.md", 5) == []


def test_bucket_count_is_a_table_property(spark, tmp_path):
    """A table written with 32 buckets keeps routing correctly while the
    module constant stays 64: deletes, appends, compaction and the
    NeighborServer all read the persisted property (VERDICT r2 #2 — a
    changed constant must never silently mis-route bucket rewrites)."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators.neighbors import NeighborServer
    from mcp_local_rag_spark.plans.ingest import (
        N_BUCKETS,
        compact_chunks,
        table_n_buckets,
    )

    assert N_BUCKETS == 64  # the scenario under test: table != constant
    table = str(tmp_path / "chunks_nb32")
    rows = spark.range(60).select(
        F.concat(F.lit("/nb/doc"), (F.col("id") % 3).cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        (F.col("id") / 3).cast("int").alias("chunkIndex"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(rows, table, n_buckets=32)
    assert table_n_buckets(table) == 32
    buckets = {
        r.bucket for r in spark.read.parquet(table).select("bucket").distinct().collect()
    }
    assert buckets and all(b < 32 for b in buckets)

    # delete routes with the table property, not the 64 constant
    n = delete_document(spark, table, "/nb/doc1.md")
    assert n == 20
    left = spark.read.parquet(table)
    assert left.count() == 40
    assert left.filter(F.col("filePath") == "/nb/doc1.md").count() == 0

    # append keeps the table's count (no bucket id >= 32 appears)
    more = spark.range(10).select(
        F.lit("/nb/doc9.md").alias("filePath"),
        F.col("id").cast("int").alias("chunkIndex"),
        F.lit("x").alias("text"),
    )
    write_chunks(more, table, mode="append")
    spark.catalog.refreshByPath(table)
    after = spark.read.parquet(table)
    assert after.count() == 50
    assert after.select(F.max("bucket")).first()[0] < 32

    compact_chunks(spark, table)
    assert table_n_buckets(table) == 32

    server = NeighborServer(spark, table)
    assert [r["chunkIndex"] for r in server.read("/nb/doc9.md", 5)] == [3, 4, 5, 6, 7]
    assert delete_document(spark, table, "/nb/doc9.md") == 10


def test_compact_atomic_and_meta_preserving(spark, tmp_path):
    """Compaction rewrites via temp-sibling + rename (no destroy-then-write
    window, ADVICE r4) and preserves table meta it didn't set (embedding
    space) across the swap."""
    import os

    from mcp_local_rag_spark.plans.ingest import (
        build_chunks,
        compact_chunks,
        read_table_meta,
        write_chunks,
    )

    docs = spark.createDataFrame(
        [
            (
                "/m.md",
                "A document with several sentences of real content for chunking. "
                "Another sentence keeps it above the minimum length bar.",
                "M",
                "h1",
                120,
            )
        ],
        "path string, text string, title string, contentHash string, length long",
    )
    table = str(tmp_path / "chunks_atomic")
    write_chunks(
        build_chunks(docs, dim=16, backend="hashing"),
        table,
        backend="hashing",
        dim=16,
    )
    before_meta = read_table_meta(table)
    assert before_meta.get("backend") == "hashing"
    before_rows = spark.read.parquet(table).count()

    compact_chunks(spark, table)
    after_meta = read_table_meta(table)
    assert after_meta.get("backend") == "hashing" and after_meta.get("dim") == 16
    assert after_meta.get("n_buckets") == before_meta.get("n_buckets")
    assert spark.read.parquet(table).count() == before_rows
    # no temp/old sibling directories left behind
    assert not os.path.exists(table + "__rewrite_tmp")
    assert not os.path.exists(table + "__rewrite_old")


def test_delete_documents_df_no_match_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.ingest import (
        build_chunks,
        delete_documents_df,
        write_chunks,
    )

    docs = spark.createDataFrame(
        [
            (
                "/keep.md",
                "A document with enough real sentence content to chunk today. "
                "And one more sentence for good measure.",
                "K",
                "h",
                100,
            )
        ],
        "path string, text string, title string, contentHash string, length long",
    )
    table = str(tmp_path / "chunks_nm")
    write_chunks(build_chunks(docs, dim=16, backend="hashing"), table,
                 backend="hashing", dim=16)
    targets = spark.createDataFrame([("/absent.md",)], "k string").select(
        F.col("k")
    )
    assert delete_documents_df(spark, table, targets) == 0
    assert spark.read.parquet(table).filter("filePath = '/keep.md'").count() > 0


def test_batched_delete_is_one_write(spark, tmp_path, monkeypatch):
    """Deleting documents spread across several buckets rewrites ALL
    touched buckets in ONE dynamic-partition-overwrite write (the chunks-
    table twin of the FTS refresh contract), and deleting the last
    document leaves a readable empty table."""
    import glob

    import pyspark.sql.readwriter as rw
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.ingest import delete_documents, write_chunks

    table = str(tmp_path / "chunks_onewrite")
    rows = spark.createDataFrame(
        [(f"/d{i}.md", 0, f"body {i}") for i in range(12)],
        "filePath string, chunkIndex long, text string",
    ).withColumn("vector", F.array(F.lit(0.1), F.lit(0.2)))
    write_chunks(rows, table, n_buckets=8)

    calls = []
    orig = rw.DataFrameWriter.parquet

    def counting(self, p, *a, **k):
        calls.append(p)
        return orig(self, p, *a, **k)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", counting)
    n = delete_documents(spark, table, [f"/d{i}.md" for i in range(10)])
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig)
    assert n == 10
    assert len(calls) == 1 and calls[0].rstrip("/") == table, calls

    remaining = spark.read.parquet(table)
    assert {r.filePath for r in remaining.collect()} == {"/d10.md", "/d11.md"}

    # delete the rest: table stays readable with zero rows
    assert delete_documents(spark, table, ["/d10.md", "/d11.md"]) == 2
    assert spark.read.parquet(table).count() == 0
    assert glob.glob(f"{table}/bucket=*/*.parquet")  # schema-only file kept


def test_write_chunks_files_are_key_sorted(spark, tmp_path):
    """Every data file the PRIMARY writer produces must be sorted by
    (filePath, chunkIndex) — the row-group min/max pruning the neighbor
    point reads rely on. Regression for the writer-inserted partition
    sort: a partitionBy write whose child ordering does not LEAD with the
    partition column gets re-sorted by that column alone (radix-based,
    not stable), silently scrambling the secondary order."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.ingest import write_chunks

    rows = spark.range(60).select(
        F.concat(F.lit("/d/doc"), (F.col("id") % 12).cast("string"), F.lit(".md")).alias("filePath"),
        (F.col("id") / 12).cast("int").alias("chunkIndex"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    table = str(tmp_path / "chunks_sorted")
    write_chunks(rows.repartition(8), table, n_buckets=4)
    files = glob.glob(f"{table}/bucket=*/part-*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["filePath", "chunkIndex"]).to_pandas()
        key = list(zip(t["filePath"], t["chunkIndex"]))
        assert key == sorted(key), f


def test_scan_and_ingest_compressed_envelope(spark, tmp_path):
    """Directory discovery and parse dispatch agree on compression
    envelopes: a.md.gz scans as markdown (inner extension), parses
    through maybe_decompress with the md title chain, and unsupported
    or extensionless .gz files stay skipped."""
    import gzip

    d = tmp_path / "gz_corpus"
    d.mkdir()
    body = (
        "This paragraph talks about shuffle partitioning and broadcast joins "
        "in some depth. It continues with a second sentence about adaptive "
        "query execution so the chunker has real material to keep.\n"
    )
    (d / "plain.md").write_text("# Plain\n\n" + body)
    (d / "wrapped.md.gz").write_bytes(
        gzip.compress(("# Wrapped\n\n" + body).encode())
    )
    (d / "binary.bin.gz").write_bytes(gzip.compress(b"nope"))
    (d / "bare.gz").write_bytes(gzip.compress(b"no inner extension"))

    scan = scan_directory(str(d))
    names = {os.path.basename(f["path"]) for f in scan.files}
    assert names == {"plain.md", "wrapped.md.gz"}

    chunks, unobserved = ingest_directory(spark, str(d))
    rows = chunks.select("filePath", "fileTitle").distinct().collect()
    titles = {os.path.basename(r.filePath): r.fileTitle for r in rows}
    assert titles["wrapped.md.gz"] == "Wrapped"
    assert titles["plain.md"] == "Plain"
