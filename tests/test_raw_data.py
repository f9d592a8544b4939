from pyspark.sql import functions as F

from mcp_local_rag_spark.plans.raw_data import (
    normalize_source,
    path_to_source,
    source_to_path,
)


def test_normalize_source_url_only():
    assert normalize_source("https://ex.com/a/b?q=1#frag") == "https://ex.com/a/b"
    assert normalize_source("http://ex.com/?x=2") == "http://ex.com/"
    assert normalize_source("my-note-id?not-a-url") == "my-note-id?not-a-url"


def test_source_path_roundtrip():
    for src in ["https://ex.com/page", "plain text source", "ünïcodé"]:
        p = source_to_path(src)
        assert p.startswith("/data/db/raw-data/") and p.endswith(".md")
        assert path_to_source(p) == normalize_source(src)
    # unmanaged paths return None even when the basename is decodable
    # base64url ('dGVzdA' -> 'test'): membership is the managed directory
    assert path_to_source("/data/docs/dGVzdA.md") is None
    assert path_to_source("/x/y/file.txt") is None


def test_engine_answers_restore_sources(spark, tmp_path):
    """Both Spark-path answers restore ``source`` on the driver
    (plans/raw_data.path_to_source): the ingest_data row comes back with
    its normalized source from query_documents and
    query_documents_batch, and file rows come back with None."""
    from mcp_local_rag_spark.engine import RagEngine

    doc = tmp_path / "docs" / "plain.md"
    doc.parent.mkdir()
    doc.write_text(
        "A plain file about broadcast joins and shuffle partitions, long"
        " enough to form one chunk of its own.\n"
    )
    eng = RagEngine(spark, str(tmp_path / "t"), db_path=str(tmp_path / "db"))
    eng.ingest_file(str(doc))
    eng.ingest_data(
        "A raw-data note about broadcast joins with plenty of text to chunk.",
        "https://ex.com/article?utm=1",
    )
    want = {str(doc): None}
    want[source_to_path("https://ex.com/article", str(tmp_path / "db"))] = (
        "https://ex.com/article"
    )
    single = eng.query_documents("broadcast joins", limit=5).collect()
    batch = eng.query_documents_batch(
        ["broadcast joins", "raw-data note"], limit=5
    ).collect()
    assert {r.query_index for r in batch} == {"0", "1"}
    for rows in (single, batch):
        assert {r.filePath: r.source for r in rows} == want


def test_compaction(spark, tmp_path):
    from mcp_local_rag_spark.plans.ingest import N_BUCKETS, compact_chunks

    table = str(tmp_path / "t")

    def batch(lo, hi):
        return spark.range(lo, hi).select(
            F.concat(F.lit("/d"), F.col("id").cast("string")).alias("filePath"),
            F.col("id").alias("chunkIndex"),
        ).withColumn(
            "bucket", F.pmod(F.xxhash64("filePath"), F.lit(N_BUCKETS)).cast("int")
        )

    # two DISTINCT-keyed appends -> >=2 files per bucket (identical-key
    # appends are replay duplicates by contract and compaction dedupes
    # them — covered by test_compaction_dedupes_partial_replay)
    batch(0, 200).write.partitionBy("bucket").mode("append").parquet(table)
    batch(200, 400).write.partitionBy("bucket").mode("append").parquet(table)
    before = spark.read.parquet(table).count()
    compact_chunks(spark, table)
    after = spark.read.parquet(table)
    assert after.count() == before
    import glob

    buckets = glob.glob(f"{table}/bucket=*/")
    worst = max(len(glob.glob(b + "*.parquet")) for b in buckets)
    assert worst <= 2  # was >= 2 small files everywhere before compaction


def test_base64url_encode_long_source_no_mime_linebreaks(spark):
    """Spark's base64() MIME-chunks with CRLF every 76 chars (any source
    over 57 bytes); the url-safe key must strip them or round-trips fail
    and managed paths embed control characters."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.functions.paths import (
        base64url_decode,
        base64url_encode,
    )
    import base64 as b64

    long_src = "https://example.com/" + "segment/" * 30  # >> 57 bytes
    row = (
        spark.range(1)
        .select(base64url_encode(F.lit(long_src)).alias("key"))
        .first()
    )
    assert "\r" not in row.key and "\n" not in row.key
    # bit-identical to Python's urlsafe encoding (the ingest-side key)
    assert row.key == b64.urlsafe_b64encode(long_src.encode()).decode().rstrip("=")

    rt = (
        spark.range(1)
        .select(
            base64url_decode(base64url_encode(F.lit(long_src))).alias("back")
        )
        .first()
    )
    assert rt.back == long_src

    # the managed path of a long source round-trips back to it
    from mcp_local_rag_spark.plans.raw_data import path_to_source, source_to_path

    assert path_to_source(source_to_path(long_src)) == long_src
