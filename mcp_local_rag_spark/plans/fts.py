"""Persisted BM25 postings table + incremental refresh — the production
form of the FTS index (reference: LanceDB FTS index on ``text``,
ngram(2,3), refreshed by ``optimize()`` after writes,
src/vectordb/index.ts:243-324; one refresh per bulk run,
src/server/index.ts:543-549).

Layout mirrors the chunks table: bucketed by filePath hash (same
N_BUCKETS) so index maintenance is document-aligned — upserting or
deleting a document rewrites the SAME bucket in both tables. Within each
bucket file the rows are sorted by ``term`` so per-query scoring scans
prune to the row groups containing the query's terms (parquet min/max
stats), the layout-level stand-in for a term-partitioned index.

At 100 TB the query-side alternative is a second copy bucketed BY TERM
(shuffle-free scoring joins); this module keeps the maintenance-aligned
copy because the reference's workload is ingest-heavy + candidate-
restricted scoring (P3/O14), where per-query term row-group pruning is
enough and index refresh cost dominates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet

from ..operators.bm25 import build_postings
from .ingest import N_BUCKETS, atomic_rewrite, table_n_buckets, write_table_meta


def write_postings(
    chunks: DataFrame,
    path: str,
    *,
    tokenizer: str = "unigram",
    mode: str = "overwrite",
    n_buckets: int | None = None,
) -> None:
    """Full index build: tokenize + aggregate the chunks into postings
    (filePath, chunkIndex, term, tf, dl) and write them bucket-aligned
    with the chunks table, term-sorted within each bucket. Pass the chunks
    table's bucket count as ``n_buckets`` to keep the alignment; the count
    is persisted as the index's own table property for refreshes."""
    if mode == "append":
        # appends always route with the index's persisted bucket count;
        # pre-property indexes resolve to the exact historical 64
        nb = table_n_buckets(path)
        prev = read_fts_stats(path)
        if prev is None:
            # pre-stats index that already holds data: initializing the
            # persisted counters from the appended batch alone would leave
            # BM25 scoring with a tiny n_docs (df > n -> negative idf log
            # argument -> NULL term scores, silently dropped). Derive the
            # baseline by aggregating the EXISTING postings once — the same
            # job a bulk refresh runs, paid here exactly once per legacy
            # index, after which the persisted counters carry it.
            prev = _aggregate_fts_stats(chunks.sparkSession, path)
    else:
        nb = n_buckets if n_buckets is not None else N_BUCKETS
        prev = None
    postings = build_postings(chunks, tokenizer=tokenizer).persist()
    # the BM25 corpus statistics (N docs, total doc length) are persisted
    # as index properties at build time — Lucene-style — so per-query
    # scoring folds them in as literals instead of paying a full-index
    # distinct+aggregate per query. Appends update them incrementally
    # (streaming file sources never re-deliver a document, so + is exact).
    row = (
        postings.select("filePath", "chunkIndex", "dl").distinct()
        .agg(F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("tdl"))
        .first()
    )
    batch_n, batch_tdl = int(row["n"]), int(row["tdl"])
    (
        postings.withColumn(
            "bucket", F.pmod(F.xxhash64("filePath"), F.lit(nb)).cast("int")
        )
        .repartition(nb, "bucket")
        # lead the sort with the partition column (see plans/ingest.
        # write_chunks): otherwise the partitioned writer re-sorts by
        # bucket alone, non-stably, destroying the term order
        .sortWithinPartitions("bucket", "term", "filePath", "chunkIndex")
        .write.partitionBy("bucket")
        .mode(mode)
        .parquet(path)
    )
    postings.unpersist()
    if prev is not None:
        n_docs = prev["n"] + batch_n
        total_dl = prev["total_dl"] + batch_tdl
    else:
        n_docs, total_dl = batch_n, batch_tdl
    write_table_meta(
        path, nb, extra={"fts_n_docs": n_docs, "fts_total_dl": total_dl}
    )


def index_has_data(path: str) -> bool:
    """Whether the postings directory holds any parquet data files.
    Distinguishes 'genuinely empty index' (fresh, or every document
    deleted — only meta/_SUCCESS remain, a schemaless dir Spark cannot
    read) from a populated one, WITHOUT a Spark call and without
    swallowing real read errors as emptiness. Stops at the first data
    file: it gates every sidecar-served query (``index_is_fresh``)."""
    import glob

    for pattern in ("bucket=*/*.parquet", "*.parquet"):
        if next(glob.iglob(os.path.join(path, pattern)), None) is not None:
            return True
    return False


def _aggregate_fts_stats(spark: SparkSession, path: str) -> dict | None:
    """Recompute the BM25 corpus statistics from the postings on disk —
    one distinct+aggregate over (filePath, chunkIndex, dl). Returns the
    ``read_fts_stats`` shape, or None when the directory holds no data
    (a genuinely new or fully-emptied index). Real read failures
    (corrupt footer, permissions, transient IO) PROPAGATE — mapping them
    to None would re-initialize the persisted counters from one appended
    batch and silently corrupt rankings, the exact bug the caller exists
    to prevent."""
    if not index_has_data(path):
        return None
    row = (
        read_parquet(spark, path)
        .select("filePath", "chunkIndex", "dl").distinct()
        .agg(F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("tdl"))
        .first()
    )
    n, tdl = int(row["n"]), int(row["tdl"])
    if n == 0:
        return None
    return {"n": n, "avgdl": tdl / n, "total_dl": tdl}


def read_postings(spark: SparkSession, path: str) -> DataFrame:
    return read_parquet(spark, path).drop("bucket")


def write_term_postings(
    postings: DataFrame,
    path: str,
    *,
    n_buckets: int | None = None,
) -> None:
    """The QUERY-side second copy: the same postings bucketed by TERM hash
    (partition dirs ``tbucket=N``), term-sorted within each bucket.

    Where the document-aligned copy optimizes maintenance (upsert/delete
    rewrites one bucket per doc), this one optimizes scoring: a query's
    terms map to a handful of tbuckets, so the scan PARTITION-PRUNES to
    those directories before any row is read — at 100 TB a 4-term query
    touches ~4/n_buckets of the index instead of row-group-pruning its
    way through every doc bucket. Derive it FROM the maintained copy
    (one shuffle keyed by term) whenever query volume justifies the
    second copy; refresh = re-derive (it is never the source of truth).
    """
    nb = n_buckets if n_buckets is not None else N_BUCKETS
    (
        postings.withColumn(
            "tbucket", F.pmod(F.xxhash64("term"), F.lit(nb)).cast("int")
        )
        .repartition(nb, "tbucket")
        .sortWithinPartitions("tbucket", "term", "filePath", "chunkIndex")
        .write.partitionBy("tbucket")
        .mode("overwrite")
        .parquet(path)
    )
    write_table_meta(path, nb)


def read_term_postings(
    spark: SparkSession, path: str, terms: list[str] | None = None
) -> DataFrame:
    """Read the term-bucketed copy; with ``terms`` given, the returned
    frame carries the tbucket IN-filter so Catalyst prunes partitions —
    only the query terms' directories are listed and scanned."""
    df = read_parquet(spark, path)
    if terms:
        nb = table_n_buckets(path)
        import pyspark.sql.functions as _F

        bucket_rows = (
            spark.createDataFrame([(t,) for t in sorted(set(terms))], "term string")
            .select(_F.pmod(_F.xxhash64("term"), _F.lit(nb)).cast("int").alias("b"))
            .distinct()
            .collect()
        )
        df = df.filter(F.col("tbucket").isin([r["b"] for r in bucket_rows]))
    return df.drop("tbucket")


def read_fts_stats(path: str) -> dict | None:
    """The index's persisted BM25 corpus statistics, in the shape
    ``bm25_scores(stats=...)`` consumes — ``{"n", "avgdl", "total_dl"}`` —
    or None for a pre-stats index (scoring then computes them per query,
    the old shape)."""
    from .ingest import read_table_meta

    meta = read_table_meta(path)
    try:
        n, tdl = int(meta["fts_n_docs"]), int(meta["fts_total_dl"])
    except (KeyError, ValueError, TypeError):
        return None
    return {"n": n, "avgdl": (tdl / n) if n else 0.0, "total_dl": tdl}


def compact_postings(spark: SparkSession, path: str) -> None:
    """Fold the small files that per-micro-batch streaming appends leave in
    each bucket back into ONE term-sorted file per bucket.

    The term sort is the index's pruning property (per-query scoring scans
    prune to the row groups holding the query's terms via parquet min/max
    stats) — plain compaction that merely concatenates batch files would
    silently lose it, so compaction here re-sorts within the bucket. The
    chunks-table twin is plans/ingest.compact_chunks.

    Writes to a temp sibling + rename (plans/ingest.atomic_rewrite): the
    live index stays intact until the full replacement exists, so a
    mid-write executor loss cannot silently destroy it.
    """
    nb = table_n_buckets(path)
    # replayed appends that slipped past the batch markers can only leave
    # full-row duplicates ((filePath, chunkIndex, term) carries one (tf, dl)
    # per document version) — compaction is the declared dedup cover
    df = read_parquet(spark, path).dropDuplicates(
        ["filePath", "chunkIndex", "term"]
    )

    def _write(tmp: str) -> None:
        (
            df.repartition(nb, "bucket")
            .sortWithinPartitions("bucket", "term", "filePath", "chunkIndex")
            .write.partitionBy("bucket")
            .mode("overwrite")
            .parquet(tmp)
        )
        # the replayed appends this dedup removes each incremented the
        # persisted counters — carrying the old meta forward would leave
        # BM25's n/avgdl double-counted. Recompute from the DEDUPED frame
        # (same distinct+aggregate as refresh_postings) and write it into
        # tmp's meta, which wins the atomic_rewrite merge.
        row = (
            df.select("filePath", "chunkIndex", "dl").distinct()
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("tdl"),
            )
            .first()
        )
        write_table_meta(
            tmp,
            nb,
            extra={"fts_n_docs": int(row["n"]), "fts_total_dl": int(row["tdl"])},
        )

    atomic_rewrite(path, _write)
    spark.catalog.refreshByPath(path)


def refresh_postings(
    spark: SparkSession,
    path: str,
    *,
    changed_chunks: DataFrame | None = None,
    deleted_paths: list[str] | None = None,
    tokenizer: str = "unigram",
) -> None:
    """Incremental refresh after ingest/delete — the reference's amortized
    per-bulk-run ``optimize()``: ONE bucket-local rewrite per touched
    bucket covering both removals and re-tokenized upserts, never a full
    index rebuild.

    ``changed_chunks``: the new/updated chunk rows (their old postings are
    replaced). ``deleted_paths``: documents whose postings must go.

    The changed-document set stays a DataFrame end-to-end: the driver
    materializes only the touched BUCKET ids (<= n_buckets ints), never
    the changed paths — a whole-corpus refresh routes without collecting
    millions of strings (the chunks-table twin is
    plans/ingest.delete_documents_df).
    """
    import shutil

    nb = table_n_buckets(path)
    new_postings = None
    parts = []
    if changed_chunks is not None:
        new_postings = build_postings(changed_chunks, tokenizer=tokenizer).persist()
        parts.append(new_postings.select("filePath"))
    if deleted_paths:
        parts.append(
            spark.createDataFrame(
                [(p,) for p in sorted(set(deleted_paths))], "filePath string"
            )
        )
    if not parts:
        return
    targets = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    bucket_of = F.pmod(F.xxhash64("filePath"), F.lit(nb)).cast("int")
    targets = targets.distinct().withColumn("b", bucket_of).persist()
    # Touched buckets: the hash buckets of the NEW postings (those must
    # rewrite to absorb the adds — and a changed doc's old rows share its
    # hash bucket), plus the buckets where a deleted path actually HAS
    # rows. Deriving delete buckets from the targets' hashes instead would
    # let a stale/never-ingested path trigger a byte-identical rewrite of
    # an innocent bucket (the chunks-table twin delete_documents guards
    # the same way).
    buckets: set[int] = set()
    if new_postings is not None:
        buckets |= {
            r["b"]
            for r in new_postings.select(bucket_of.alias("b")).distinct().collect()
        }
    if deleted_paths and index_has_data(path):
        del_df = spark.createDataFrame(
            [(p,) for p in sorted(set(deleted_paths))], "filePath string"
        )
        buckets |= {
            r["bucket"]
            for r in read_parquet(spark, path)
            .join(del_df, "filePath", "left_semi")
            .select("bucket")
            .distinct()
            .collect()
        }
    if not buckets:
        targets.unpersist()
        if new_postings is not None:
            new_postings.unpersist()
        return

    # ALL touched buckets rewrite in ONE dynamic-partition-overwrite job
    # (not a per-bucket driver loop — at thousands of touched buckets that
    # is thousands of job submissions): build keep+adds across the touched
    # buckets, hash-repartition by bucket (all rows of a bucket land in
    # exactly one task -> one term-sorted file per bucket, the pruning
    # layout), and let the writer replace ONLY the partition dirs present
    # in the output. localCheckpoint materializes the result first, so
    # reading and overwriting the same path cannot race.
    if index_has_data(path):
        existing = read_parquet(spark, path)
        keep = (
            existing.filter(F.col("bucket").isin(sorted(buckets)))
            .drop("bucket")
            .join(targets.select("filePath"), "filePath", "left_anti")
        )
        if new_postings is not None:
            keep = keep.unionByName(new_postings)
    elif new_postings is not None:
        # fully-emptied (or never-populated) index: nothing on disk to
        # keep or anti-join — the refresh is just the new postings
        keep = new_postings
    else:
        # deletes against an empty index are a no-op
        targets.unpersist()
        return
    # checkpoint FIRST, sort AFTER (same rule as plans/ingest.
    # _rewrite_touched_buckets): a pre-checkpoint sort loses its catalyst
    # ordering metadata and the partitioned writer re-sorts by bucket
    # alone with a non-stable sort — silently destroying the term order
    # the per-query row-group pruning depends on.
    out = (
        keep.withColumn("bucket", bucket_of)
        .repartition(len(buckets), "bucket")
        .localCheckpoint()
        .sortWithinPartitions("bucket", "term", "filePath", "chunkIndex")
    )
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.partitionBy("bucket").mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    # a touched bucket whose every document was removed produces no output
    # rows, so dynamic overwrite never replaces its directory — drop the
    # now-stale dirs explicitly (posix parquet layout; on an object store
    # this is the same delete the per-bucket loop would have issued)
    present = {r["bucket"] for r in out.select("bucket").distinct().collect()}
    for b in sorted(buckets - present):
        shutil.rmtree(f"{path}/bucket={b}", ignore_errors=True)
    targets.unpersist()
    if new_postings is not None:
        new_postings.unpersist()
    spark.catalog.refreshByPath(path)
    # re-derive the persisted corpus statistics from the refreshed index —
    # one distinct+aggregate job per bulk run, amortized maintenance (the
    # per-query alternative would pay this on EVERY query). A refresh that
    # deleted the LAST document leaves no bucket dirs at all (parquet read
    # would fail on the schemaless dir) — the stats are simply zero.
    stats = _aggregate_fts_stats(spark, path)
    write_table_meta(
        path,
        nb,
        extra={
            "fts_n_docs": stats["n"] if stats else 0,
            "fts_total_dl": stats["total_dl"] if stats else 0,
        },
    )
