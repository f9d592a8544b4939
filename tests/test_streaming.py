"""Event-time sessionization against Spark's native session_window,
chunk compaction (replay dedup, row-group sort) and the stale-delete
postings refresh."""


def test_sessionize_matches_native_session_window(spark):
    """Our lag/cumsum sessionizer and Spark's built-in session_window agree
    on session boundaries and aggregates (same 30-min gap). session_window
    closes a session gap_seconds after the LAST event, so its window end =
    our session_end + gap. (Boundary nuance: at a gap of EXACTLY
    gap_seconds ours keeps the session — strict > — while session_window
    starts a new one; the oracle-checked strict-> form is the contract,
    this test keeps gaps away from the exact boundary.)"""
    import datetime as dt

    from pyspark.sql import Window, functions as F

    t = lambda s: dt.datetime.fromisoformat(s)
    rows = [
        (1, 10, t("2024-01-01 09:00:00"), 1.0),
        (1, 11, t("2024-01-01 09:10:00"), 2.0),
        (1, 12, t("2024-01-01 10:30:00"), 3.0),   # gap > 30min -> new session
        (2, 20, t("2024-01-01 09:05:00"), 5.0),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")

    # ours: lag/cumsum
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    es = F.col("ts").cast("double")
    flagged = ev.withColumn(
        "new_sess",
        F.when(es - F.lag(es).over(w) > 1800, 1).otherwise(0),
    ).withColumn("sess", F.sum("new_sess").over(w))
    ours = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n, r.total)
        for r in flagged.groupBy("user_id", "sess")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n"),
            F.sum("value").alias("total"),
        )
        .collect()
    }

    native = {
        (
            r.user_id,
            str(r.win.start),
            str(r.win.end - dt.timedelta(seconds=1800)),
            r.n,
            r.total,
        )
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("win"), F.col("user_id")
        )
        .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert ours == native


def test_compaction_dedupes_partial_replay(spark, tmp_path):
    """A replayed append duplicates rows; compaction keeps one row per
    (filePath, chunkIndex)."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.ingest import (
        build_chunks,
        compact_chunks,
        write_chunks,
    )

    docs = spark.createDataFrame(
        [
            (
                "/r.md",
                "A replayed document with enough sentence content to chunk. "
                "Another sentence keeps the chunk healthy.",
                "R",
                "h",
                100,
            )
        ],
        "path string, text string, title string, contentHash string, length long",
    )
    chunks = build_chunks(docs, dim=16, backend="hashing").persist()
    table = str(tmp_path / "chunks_replay")
    write_chunks(chunks, table, backend="hashing", dim=16)
    n = spark.read.parquet(table).count()

    # simulate the replayed second append
    from mcp_local_rag_spark.plans.ingest import table_n_buckets

    nb = table_n_buckets(table)
    (
        chunks.withColumn(
            "bucket", F.pmod(F.xxhash64("filePath"), F.lit(nb)).cast("int")
        )
        .write.partitionBy("bucket")
        .mode("append")
        .parquet(table)
    )
    spark.catalog.refreshByPath(table)
    assert spark.read.parquet(table).count() == 2 * n

    compact_chunks(spark, table)
    assert spark.read.parquet(table).count() == n
    chunks.unpersist()


def test_compaction_keeps_rowgroup_sort(spark, tmp_path):
    """compact_chunks must re-sort (filePath, chunkIndex) within buckets —
    dropDuplicates shuffles arbitrarily and an unsorted rewrite would
    silently break point-read pruning."""
    import glob

    import pyarrow.parquet as pq

    from mcp_local_rag_spark.plans.ingest import compact_chunks, write_chunks

    rows = [
        (f"/d/doc{i % 7}.md", j, f"text {i} {j}")
        for i in range(21)
        for j in range(5)
    ]
    df = spark.createDataFrame(rows, "filePath string, chunkIndex int, text string")
    table = str(tmp_path / "chunks_sort")
    write_chunks(df.repartition(8), table, n_buckets=4)
    compact_chunks(spark, table)
    for f in glob.glob(f"{table}/bucket=*/part-*.parquet"):
        t = pq.read_table(f, columns=["filePath", "chunkIndex"]).to_pandas()
        key = list(zip(t["filePath"], t["chunkIndex"]))
        assert key == sorted(key), f


def test_fts_refresh_stale_delete_leaves_buckets_untouched(spark, tmp_path):
    """Deleting paths that have no rows in the index must not rewrite any
    bucket (the chunks-table delete guards identically): file mtimes and
    contents stay byte-identical."""
    import glob
    import os

    from mcp_local_rag_spark.plans.fts import refresh_postings, write_postings

    rows = [
        (f"/d/doc{i}.md", 0, f"alpha bravo charlie delta echo text{i}")
        for i in range(8)
    ]
    chunks = spark.createDataFrame(rows, "filePath string, chunkIndex int, text string")
    path = str(tmp_path / "fts_stale")
    write_postings(chunks, path, n_buckets=4)
    before = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(f"{path}/bucket=*/part-*.parquet")
    }
    refresh_postings(spark, path, deleted_paths=["/never/ingested.md", "/also/stale.md"])
    after = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(f"{path}/bucket=*/part-*.parquet")
    }
    assert before == after
