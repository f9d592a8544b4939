"""End-to-end ingest: directory -> parsed docs -> sentence split -> embed ->
Max-Min chunk -> chunks table (reference §3.2 ingest_file / §1.1 schema).

The chunks table mirrors the reference's single-table data model
(src/vectordb/types.ts:83-102): id, filePath, chunkIndex, text, vector,
metadata{fileName,fileSize,fileType}, fileTitle, contentHash, timestamp.

Write discipline for scale: partitioned by a hash bucket of filePath so
per-document operators (delete-and-replace S8, neighbor reads W5) touch one
partition; idempotent re-ingest = dynamic partition overwrite of the
affected buckets (the Spark analogue of the reference's
backup/delete/insert/rollback transaction simulation,
src/server/index.ts:644-702 — Delta/Iceberg would make this a MERGE).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet

from ..chunking.maxmin import maxmin_chunk
from ..chunking.splitter import split_units_udf
from ..embedder import embed_text_column
from ..sources.parsers import parse_files
from ..sources.scan import read_files, scan_directory

# Default bucket count for NEW tables only. The authoritative count for an
# EXISTING table is the persisted table property (_table_meta.json, written
# by write_chunks) — every routing site (delete, compact, neighbor reads,
# postings refresh) reads it back, so changing this constant never
# mis-routes rows of a table written under a different count.
#
# Sizing for scale: keep each bucket-rewrite job bounded — target <= 64 GB
# of parquet per bucket, so n_buckets >= ceil(table_bytes / 64 GB), rounded
# up to a power of two (100 TB => 2048). With Delta/Iceberg the analogue is
# the bucket(n) partition transform stored in table metadata.
N_BUCKETS = 64

_TABLE_META = "_table_meta.json"


def read_table_meta(path: str) -> dict:
    """The table's persisted properties, or {} for pre-property tables."""
    try:
        with open(os.path.join(path, _TABLE_META)) as f:
            meta = json.load(f)
        return meta if isinstance(meta, dict) else {}
    except (OSError, ValueError):
        return {}


def write_table_meta(
    path: str,
    n_buckets: int,
    *,
    backend: str | None = None,
    dim: int | None = None,
    extra: dict | None = None,
) -> None:
    """Persist table properties next to the data. The leading underscore
    keeps Spark's file index from treating it as a data file.

    Besides the bucket count this records the embedding space the table was
    written under (backend + dim) so appenders (``RagEngine`` ingests into
    an existing table) embed new rows in the SAME space instead of
    silently mixing incompatible vectors. ``None`` preserves whatever an
    existing meta file already recorded (read-modify-write), so
    routing-only writers (FTS refresh, compaction) never erase the
    embedding record. Keys the caller doesn't set are carried over
    unchanged (the FTS index keeps its persisted corpus statistics here);
    ``extra`` merges additional properties in."""
    os.makedirs(path, exist_ok=True)
    prev = read_table_meta(path)
    meta = {**prev, "format_version": 2, "n_buckets": int(n_buckets)}
    if backend is not None:
        meta["backend"] = str(backend)
    if dim is not None:
        meta["dim"] = int(dim)
    if extra:
        meta.update(extra)
    with open(os.path.join(path, _TABLE_META), "w") as f:
        json.dump(meta, f)


# tables whose version bumps should be ATTRIBUTED to the index-sync
# intent (plans/engine_txn): the engine enters attribute_mutations()
# around its mutations, and bump_table_version then appends
# (new -> prev) to the intent's version chain — the proof a restarted
# engine needs that every bump since the last covering stamp belongs to
# a recorded mutation,
# which is the condition for BOUNDED crash recovery instead of a full
# O(corpus) index rebuild. A contextvar (not a registry) so a direct
# plans/ingest call OUTSIDE the engine never self-attributes.
import contextvars as _contextvars

_ATTRIBUTED_TABLE = _contextvars.ContextVar("attributed_table", default=None)


class attribute_mutations:
    """Context manager: version bumps on ``table_path`` inside the block
    extend the index intent's attributed version chain (see
    plans/engine_txn.record_derived_version)."""

    def __init__(self, table_path: str):
        self._path = os.path.abspath(table_path)
        self._token = None

    def __enter__(self):
        self._token = _ATTRIBUTED_TABLE.set(self._path)
        return self

    def __exit__(self, *exc):
        _ATTRIBUTED_TABLE.reset(self._token)
        return False


def bump_table_version(path: str) -> str:
    """Stamp a new content version into the table meta. Every mutation of
    the table's ROWS bumps it (write_chunks, the delete paths, the
    touched-bucket rewrites); index maintenance records the version it
    covered, so a RESTARTED engine can trust an on-disk index instead of
    scheduling a full O(corpus) rebuild on its first optimize()."""
    import uuid

    prev = table_version(path)
    v = uuid.uuid4().hex
    write_table_meta(path, table_n_buckets(path), extra={"table_version": v})
    if _ATTRIBUTED_TABLE.get() == os.path.abspath(path):
        from .engine_txn import record_derived_version

        record_derived_version(path, v, prev)
    return v


def table_version(path: str) -> str | None:
    v = read_table_meta(path).get("table_version")
    return str(v) if v else None


def table_content_stamp(path: str) -> str:
    """A per-query freshness token for the serving sidecars: the stamped
    table_version when the table has one (every engine-managed table), else
    a filesystem fingerprint (file count, max mtime_ns, total bytes) of the
    parquet files. The fallback costs one directory walk (~100 us for a
    64-bucket layout) and changes on ANY Spark write, so a LEGACY table
    without version stamps still invalidates snapshots on external
    mutation — without the always-reload penalty (a full snapshot rebuild
    per query) the naive None-handling would pay."""
    v = table_version(path)
    if v is not None:
        return v
    import os

    n = mt = sz = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")) or not f.endswith(".parquet"):
                continue
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            n += 1
            sz += st.st_size
            if st.st_mtime_ns > mt:
                mt = st.st_mtime_ns
    return f"fs:{n}:{mt}:{sz}"


def table_n_buckets(path: str, default: int | None = None) -> int:
    """The table's bucket count: persisted property first, then ``default``
    (or N_BUCKETS). Tables written before the property existed were all
    written with N_BUCKETS=64, so the fallback is exact for them."""
    try:
        return int(read_table_meta(path)["n_buckets"])
    except (ValueError, KeyError, TypeError):
        return default if default is not None else N_BUCKETS


def table_embedding(path: str, *, default_backend: str = "pseudo", default_dim: int = 64) -> tuple[str, int]:
    """(backend, dim) the table's vectors were written under — appenders
    must embed in this space. Pre-property tables fall back to the
    historical defaults (every such table was written pseudo/64)."""
    meta = read_table_meta(path)
    backend = meta.get("backend") or default_backend
    try:
        dim = int(meta.get("dim", default_dim))
    except (ValueError, TypeError):
        dim = default_dim
    return str(backend), dim


def ingest_directory(
    spark: SparkSession,
    root: str,
    *,
    dim: int = 64,
    backend: str = "pseudo",
) -> tuple[DataFrame, list[str]]:
    """Scan + parse + chunk + embed one directory.

    Returns (chunks DataFrame, unobserved_prefixes coverage facts).
    """
    scan = scan_directory(root)
    docs = parse_hashed(read_files(spark, [f["path"] for f in scan.files]))
    docs = docs.filter(F.col("parse_error").isNull())
    return build_chunks(docs, dim=dim, backend=backend), scan.unobserved_prefixes


def parse_hashed(files: DataFrame) -> DataFrame:
    """(path, length, content) -> parse_files' rows carrying
    ``contentHash`` and ``length``: one scan of the bytes, one parse pass.
    The hash is of the bytes the parse read, taken before the parse — a
    mid-ingest rewrite re-ingests next sync (reference race-direction
    rationale, src/server/index.ts:583-591)."""
    return parse_files(
        files.select(
            "path",
            "length",
            "content",
            F.lower(F.sha2(F.col("content"), 256)).alias("contentHash"),
        )
    )


def build_chunks(
    docs: DataFrame,
    *,
    path_col: str = "path",
    text_col: str = "text",
    dim: int = 64,
    backend: str = "pseudo",
) -> DataFrame:
    """(path, text, title, contentHash, length[, atomic_ranges]) ->
    reference-shaped chunks. ``atomic_ranges`` ([start, end) spans, e.g.
    DOCX table rows) become indivisible sentence units that bypass the
    min-length filter (reference T2)."""
    ranges = (
        F.col("atomic_ranges")
        if "atomic_ranges" in docs.columns
        else F.array().cast("array<array<int>>")
    )
    # a narrow input (a limit, a single-file source, a parser's collect
    # funnel) would run the sentence-split UDF on one core; fan whole-doc
    # rows out round-robin ONLY in that case — at scale the source
    # already arrives wide and this adds nothing. (The keyed shuffle the
    # chunker needs cannot simply be hoisted above the split: exploding a
    # Python-UDF-produced column drops partitioning propagation, so a
    # pre-split hash(doc_key) repartition would be paid AGAIN below.)
    spark = docs.sparkSession
    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    sentences = (
        docs.select(
            F.col(path_col).alias("doc_key"),
            "title",
            "contentHash",
            F.col(text_col).alias("_doc_text"),
            ranges.alias("_ranges"),
        )
        .withColumn("_units", split_units_udf(F.col("_doc_text"), F.col("_ranges")))
        .select(
            "doc_key",
            "title",
            "contentHash",
            F.length("_doc_text").alias("_doc_len"),
            F.posexplode("_units").alias("seq", "_unit"),
        )
        .select(
            "doc_key",
            "title",
            "contentHash",
            "_doc_len",
            "seq",
            F.col("_unit.text").alias("text"),
            F.col("_unit.atomic").alias("atomic"),
        )
    )
    # keyed shuffle of the TEXT-ONLY sentence stream before the embed:
    # the embed UDF then runs wide, and the chunker's own exchange
    # re-clusters the embedded rows. (Two exchanges are deliberate: a
    # single-exchange variant that embeds inside the chunker's group
    # function measured 30% slower in bulk — per-group calls lose the
    # Arrow-batch amortization — and would be catastrophic for the model
    # backend, whose encode() efficiency lives entirely in large batches.
    # applyInPandas cannot reuse this partitioning anyway: the grouping
    # key flowing through the embed UDF projection drops the partitioning
    # metadata, a measured Spark plan quirk.)
    sentences = sentences.repartition(F.col("doc_key"))
    embedded = embed_text_column(sentences, "text", "vector", dim=dim, backend=backend)
    chunks = maxmin_chunk(embedded, atomic_col="atomic")
    # chunk-level embeddings (reference embeds the joined chunk text,
    # src/ingest/compute.ts:49-65)
    chunks = embed_text_column(chunks, "text", "vector", dim=dim, backend=backend)
    meta = docs.select(
        F.col(path_col).alias("doc_key"),
        F.col("title").alias("fileTitle"),
        "contentHash",
        F.col("length").alias("_fileSize"),
    )
    out = (
        chunks.join(meta, "doc_key")
        .select(
            F.expr("uuid()").alias("id"),
            F.col("doc_key").alias("filePath"),
            F.col("chunk_index").alias("chunkIndex"),
            "text",
            "vector",
            F.struct(
                F.element_at(F.split("doc_key", "/"), -1).alias("fileName"),
                F.col("_fileSize").alias("fileSize"),
                F.lower(F.regexp_extract(F.element_at(F.split("doc_key", "/"), -1), "\\.([A-Za-z0-9]+)$", 1)).alias("fileType"),
            ).alias("metadata"),
            "fileTitle",
            "contentHash",
            F.date_format(F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").alias(
                "timestamp"
            ),
        )
    )
    return out


def write_chunks(
    chunks: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    n_buckets: int | None = None,
    backend: str | None = None,
    dim: int | None = None,
) -> None:
    """Persist the chunks table partitioned by filePath hash bucket.

    One shuffle clusters each bucket into one output file, sorted by
    (filePath, chunkIndex) so parquet row-group min/max stats prune both
    document lookups and neighbor-frame reads (reference W5's <100 ms SLO).
    Without the repartition, every input partition appends a file to every
    bucket — M*N small files that the read side then pays for.

    Appends ALWAYS route with the table's persisted bucket count — the
    caller's ``n_buckets`` is ignored in append mode (pre-property tables
    resolve to the exact historical 64, never a caller override that would
    mis-route rows). An explicit ``n_buckets`` applies to fresh/overwrite
    writes only and is persisted as the table property.

    ``backend``/``dim`` record the embedding space in the table meta so
    later appenders embed in the same space.
    """
    if mode == "append":
        nb = table_n_buckets(path)
    else:
        nb = n_buckets if n_buckets is not None else N_BUCKETS
    (
        chunks.withColumn(
            "bucket", F.pmod(F.xxhash64("filePath"), F.lit(nb)).cast("int")
        )
        .repartition(nb, "bucket")
        # the sort MUST lead with the partition column: a partitioned
        # write whose child ordering does not start with it gets a
        # writer-inserted sort by that column alone — radix-based and
        # NOT stable — which scrambles the secondary (filePath,
        # chunkIndex) order the row-group pruning depends on
        .sortWithinPartitions("bucket", "filePath", "chunkIndex")
        .write.partitionBy("bucket")
        .mode(mode)
        .parquet(path)
    )
    # after the write: overwrite mode clears the directory first
    write_table_meta(path, nb, backend=backend, dim=dim)
    bump_table_version(path)


def compact_chunks(spark: SparkSession, table_path: str, target_files_per_bucket: int = 1) -> None:
    """S9 compaction — the reference's amortized ``optimize()``
    (src/vectordb/index.ts:317-324; one call per bulk run, src/server/index.ts:543-549).

    SELECTIVE, like LanceDB's fragment compaction: only the buckets whose
    file count exceeds ``target_files_per_bucket`` rewrite (one directory
    listing finds them; already-compact buckets are never read or
    written, and a no-op table returns without submitting any job). The
    previous full-table atomic rewrite made every per-request optimize()
    O(corpus) — at 100 TB a single-file ingest must not rewrite 100 TB.

    Duplicate rows — the at-least-once replay cover — can only exist
    where a second FILE was appended (an append never rewrites in
    place), so the needs-compaction buckets are exactly the buckets that
    can hold duplicates; ``dropDuplicates`` over those buckets keeps one
    row per (filePath, chunkIndex). Rows re-sort per bucket inside
    ``_rewrite_touched_buckets`` (dynamic partition overwrite), which
    preserves the row-group order point reads prune on and replaces each
    touched directory only after its replacement data is materialized.
    """
    import glob

    need: set[int] = set()
    for d in glob.glob(os.path.join(table_path, "bucket=*")):
        if len(glob.glob(os.path.join(d, "*.parquet"))) > target_files_per_bucket:
            need.add(int(d.rsplit("=", 1)[1]))
    if not need:
        return
    df = (
        read_parquet(spark, table_path)
        .filter(F.col("bucket").isin(sorted(need)))
        .dropDuplicates(["filePath", "chunkIndex"])
    )
    _rewrite_touched_buckets(spark, table_path, df, need)


def _rewrite_touched_buckets(
    spark: SparkSession, table_path: str, keep: DataFrame, touched: set[int]
) -> None:
    """Replace the data of the TOUCHED buckets with ``keep`` (surviving
    rows, carrying their ``bucket`` column) in ONE dynamic-partition-
    overwrite write — not a per-bucket driver loop (at thousands of
    touched buckets that is thousands of job submissions; here it is one,
    the chunks-table twin of plans/fts.refresh_postings). Rows re-sort by
    (filePath, chunkIndex) within each bucket, preserving the row-group
    min/max pruning the NeighborServer point reads rely on.
    localCheckpoint materializes the survivors first, so reading and
    overwriting the same path cannot race; buckets emptied entirely have
    their stale dirs dropped explicitly (dynamic overwrite never touches
    a partition absent from the output)."""
    # checkpoint FIRST, sort AFTER: a checkpointed RDD carries no catalyst
    # ordering metadata, so a pre-checkpoint sort makes the partitioned
    # writer insert its own sort by the partition column alone — a
    # NON-STABLE sort that scrambles the (filePath, chunkIndex) order
    # inside each bucket file (observed: chunk indexes shuffled within a
    # doc). Sorting above the checkpoint keeps the Sort node in the write
    # plan, which satisfies the writer's requirement outright.
    out = (
        keep.repartition(max(len(touched), 1), "bucket")
        .localCheckpoint()
        .sortWithinPartitions("bucket", "filePath", "chunkIndex")
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.partitionBy("bucket").mode("overwrite").parquet(table_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    present = {r["bucket"] for r in out.select("bucket").distinct().collect()}
    for b in sorted(touched - present):
        shutil.rmtree(f"{table_path}/bucket={b}", ignore_errors=True)
    if not present:
        import glob

        if not glob.glob(os.path.join(table_path, "bucket=*", "*.parquet")):
            # the delete emptied the LAST populated bucket: a fileless dir
            # is schemaless to Spark and every subsequent read would fail.
            # Keep the table READABLE-EMPTY with one schema-only file
            # (Spark writes the parquet footer even for zero rows).
            out.drop("bucket").limit(0).repartition(1).write.mode(
                "overwrite"
            ).parquet(f"{table_path}/bucket={min(touched)}")
    # the session-global FileStatusCache still lists the replaced files
    spark.catalog.refreshByPath(table_path)
    bump_table_version(table_path)


def delete_documents(
    spark: SparkSession, table_path: str, file_paths: list[str]
) -> int:
    """Batched S8: delete every chunk row of the given documents.

    Paths resolve to their hash buckets and ALL touched buckets rewrite
    in one dynamic-partition-overwrite job — constant job count
    regardless of how many documents a sync upserts or prunes. Returns
    the number of deleted rows. With Delta this is one
    DELETE WHERE filePath IN (...); parquet needs the bucket rewrite.
    """
    targets = sorted(set(file_paths))
    if not targets:
        return 0
    df = read_parquet(spark, table_path)
    # touched buckets come from the rows that actually MATCH, not from the
    # targets' hashes: a stale path (already deleted, never ingested) must
    # not trigger a byte-identical rewrite of an innocent bucket. One
    # column-pruned pass finds the touched buckets AND the delete count.
    hits = {
        r["bucket"]: r["n"]
        for r in df.filter(F.col("filePath").isin(targets))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    if not hits:
        return 0
    touched = set(hits)
    part = df.filter(F.col("bucket").isin(sorted(touched)))
    keep = part.filter(~F.col("filePath").isin(targets))
    _rewrite_touched_buckets(spark, table_path, keep, touched)
    return int(sum(hits.values()))


def delete_document(spark: SparkSession, table_path: str, file_path: str) -> int:
    """S8 delete-by-file: the single-document form of ``delete_documents``
    (one bucket rewrite; partition pruning skips the other 63)."""
    return delete_documents(spark, table_path, [file_path])


def delete_documents_df(
    spark: SparkSession,
    table_path: str,
    targets: DataFrame,
    *,
    case_fold: bool = False,
) -> int:
    """DataFrame-native S8: delete every chunk row whose sync key matches a
    key in ``targets`` (a one-column DataFrame).

    The whole-corpus-resync shape of ``delete_documents``: the key set
    stays a DataFrame end-to-end — the driver materializes only the
    TOUCHED BUCKET IDS (<= n_buckets rows), never the matching paths, so
    a sync that prunes millions of documents collects at most 64 ints
    where the list form would collect millions of strings. ALL touched
    buckets rewrite in ONE dynamic-partition-overwrite job via an anti
    join against the targets (Catalyst picks broadcast vs shuffle by
    target size). Returns the number of deleted rows. With Delta this is
    ``DELETE WHERE key IN (SELECT key FROM targets)``.
    """
    from ..functions.paths import sync_path_key

    keys = targets.toDF("_target_key").distinct()
    df = read_parquet(spark, table_path)
    tagged = df.withColumn(
        "_k", sync_path_key(F.col("filePath"), case_fold=case_fold)
    )
    doomed = tagged.join(keys, tagged["_k"] == keys["_target_key"], "left_semi")
    # one column-pruned pass finds the touched buckets AND the delete count
    hits = {
        r["bucket"]: r["n"]
        for r in doomed.groupBy("bucket").agg(F.count("*").alias("n")).collect()
    }
    if not hits:
        return 0
    touched = set(hits)
    part = tagged.filter(F.col("bucket").isin(sorted(touched)))
    keep = part.join(keys, part["_k"] == keys["_target_key"], "left_anti").drop("_k")
    _rewrite_touched_buckets(spark, table_path, keep, touched)
    return int(sum(hits.values()))


def ingest_webdataset(
    spark: SparkSession,
    shard_paths: list[str],
    *,
    dim: int = 64,
    backend: str = "pseudo",
    errors: str = "raise",
) -> DataFrame:
    """Tar shards -> chunks: WebDataset as a first-class ingest source.

    Each sample's text member (slot priority md > txt > html > htm, then
    archive order) becomes one document with the stable per-record path
    ``<shard>#<sample_key>.<slot>`` — the same identity discipline as the
    structured containers' ``<path>#r<index>`` — and flows through the
    SAME parse chain as directory ingest (title extraction by inner
    extension, hash-before-parse, sentence split, Max-Min chunking).
    Shards are the parallelism grain: member expansion is map-only, the
    one-text-member pick is a window inside (shard, sample_key), and
    nothing collects to the driver.
    """
    from ..sources.webdataset import pick_text_members, read_webdataset

    picked = pick_text_members(read_webdataset(spark, shard_paths, errors=errors))
    docs = parse_hashed(picked).filter(F.col("parse_error").isNull())
    return build_chunks(docs, dim=dim, backend=backend)
