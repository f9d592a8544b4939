"""RagEngine — the user-facing facade, mirroring the reference's MCP tool
surface (src/server/index.ts dispatcher): query_documents, ingest_file/
ingest_directory, delete_document, list_documents, get_status,
read_chunk_neighbors, sync. A user of the reference maps each tool onto
one method here; results carry the same fields.

State = one chunks table (parquet, bucketed by filePath hash) — the
reference's single LanceDB table (§1.1). All methods are DataFrame
pipelines; only file listings and per-query literals touch the driver.
"""

from __future__ import annotations

import os
import sys
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .embedder import embed_query
from .operators import search
from .session import read_parquet
from .operators.bm25 import bm25_scores, build_postings
from .functions.paths import sync_path_key
from .functions.text import query_terms
from .operators.neighbors import read_neighbors
from .operators.sync import plan_sync, sync_counters
from .plans.ingest import (
    attribute_mutations,
    build_chunks,
    compact_chunks,
    delete_document,
    delete_documents,
    ingest_directory,
    parse_hashed,
    table_n_buckets,
    write_chunks,
)
from .sources.scan import read_files, scan_directory


# Sync keys are case-folded only on case-insensitive filesystems, mirroring
# the reference's platform switch (src/utils/sync-path-key.ts:29-34). On
# Linux, /a/README.md and /a/readme.md are distinct files and must stay
# distinct sync keys — unconditional lowering would merge them and classify
# the merged key as upsert forever (n_spellings=2 never converges).
CASE_FOLD_KEYS = sys.platform == "win32"

# prune sets up to this size are collected for INCREMENTAL postings
# refresh routing; beyond it sync flags a full index rebuild instead of
# materializing an unbounded path list on the driver
PRUNE_COLLECT_CAP = 10_000


def _py_sync_key(path: str) -> str:
    """Driver-side twin of functions.paths.sync_path_key."""
    return path.lower() if CASE_FOLD_KEYS else path


@dataclass
class SyncReport:
    counters: dict[str, int] = field(default_factory=dict)
    warnings: list[str] = field(default_factory=list)


# columns the reference added after its first release (read migration)
_MIGRATED_COLS = ("fileTitle", "contentHash")

# the hit columns query_documents answers with, before ``source``
_HIT_COLS = ("filePath", "chunkIndex", "text", "fileTitle", "score")


class RagEngine:
    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        *,
        dim: int = 64,
        backend: str = "pseudo",
        postings_path: str = "auto",
        db_path: str = "/data/db",
    ):
        """``postings_path`` names the maintained BM25 postings index
        (plans/fts): ingest/delete/sync refresh it bucket-locally during
        optimize(), and query_documents/keyword_search score against it
        instead of re-tokenizing the corpus per query — the reference's
        transparent FTS index (src/vectordb/index.ts:243-324). The index
        is an unconditional part of the table, as in the reference
        (src/vectordb/index.ts:243-282); ``"auto"`` resolves to
        ``<table_path>_fts``."""
        self.spark = spark
        self.table_path = table_path
        self.dim = dim
        self.backend = backend
        if postings_path == "auto":
            postings_path = table_path.rstrip("/") + "_fts"
        self.postings_path = postings_path
        # OPT-IN approximate lane: the chunks-corpus IVF index lives next
        # to the table; built on demand (build_ann_index), served by
        # operators/ivf_serve — query_documents stays exact (the
        # reference contract)
        self.ann_index_path = table_path.rstrip("/") + "_ann"
        # ONE managed raw-data root for the whole engine: ingest_data writes
        # under it and query_documents restores sources against the SAME
        # root, so non-default roots round-trip (reference keeps a single
        # db path, src/server/index.ts constructor).
        self.db_path = db_path
        # the last chunks/postings frame per path, keyed by table version
        self._frames: dict = {}
        # mutation tracking for the amortized index refresh in optimize()
        self._dirty_upserts: set[str] = set()
        self._dirty_deletes: set[str] = set()
        # version handshake: every row mutation bumps the chunks table's
        # persisted content version, and optimize() stamps the version the
        # postings cover. A RESTARTED engine whose on-disk index covers
        # the table's current version trusts it — without this, the first
        # optimize() after every process restart rebuilt the full index
        # (O(corpus) — at 100 TB a restart must not re-tokenize 100 TB).
        self._needs_full_index = not self._index_covers_table()
        # crash recovery (plans/engine_txn): adopt any lingering index
        # intent — a crash between a row mutation and its index sync left
        # the pending work recorded; loading it makes the next optimize()
        # (or recover_indexes()) re-sync exactly that work
        self._intent_ann: dict | None = None
        self._load_index_intent()

    def _mark_index_dirty(
        self,
        *,
        full: bool = False,
        upserts=(),
        deletes=(),
    ) -> None:
        """Record pending index work BEFORE the table mutation it covers —
        in memory (the optimize() dirty sets) AND as the crash-durable
        intent sidecar (plans/engine_txn), so a crash anywhere between
        the row mutation and the covering index stamp re-syncs exactly
        this work on restart instead of relying on index_is_fresh's
        scan fallback plus a manual full rebuild."""
        if not full and not upserts and not deletes:
            return
        if full:
            self._needs_full_index = True
        self._dirty_upserts.update(upserts)
        self._dirty_deletes.difference_update(upserts)
        self._dirty_deletes.update(deletes)
        self._dirty_upserts.difference_update(deletes)
        from .plans.engine_txn import publish_intent

        publish_intent(
            self.table_path, full=full, paths=set(upserts) | set(deletes)
        )

    def _load_index_intent(self) -> None:
        """Adopt a lingering intent (crashed mutation window) into the
        dirty sets. Each recorded path goes in BOTH sets — the postings
        refresh removes a target's old rows and adds its CURRENT table
        rows, so live paths rebuild and dead paths clear, whichever side
        of the table write the crash hit. A crash DURING the postings
        rewrite ('refreshing') degrades to the full rebuild (a torn
        bucket cannot serve as the keep-set), and a covers-stamp
        mismatch stays a full rebuild UNLESS the intent's attributed
        version chain walks from the current table version back to the
        stamped one — proof that every bump belongs to a recorded
        mutation (plans/engine_txn.chain_reaches)."""
        from .plans.engine_txn import chain_reaches, read_intent

        self._intent_ann = None
        it = read_intent(self.table_path)
        if not it:
            return
        paths = set(it.get("paths") or ())
        self._dirty_upserts |= paths
        self._dirty_deletes |= paths
        self._intent_ann = it.get("ann") or None
        if it.get("full") or it.get("refreshing"):
            self._needs_full_index = True
            return
        if self._needs_full_index:
            from .plans.fts import index_has_data, read_fts_stats
            from .plans.ingest import read_table_meta, table_version

            tv = table_version(self.table_path)
            covered = read_table_meta(self.postings_path).get(
                "covers_table_version"
            )
            if (
                tv is not None
                and chain_reaches(it, tv, covered)
                and os.path.isdir(self.postings_path)
                and index_has_data(self.postings_path)
                and read_fts_stats(self.postings_path) is not None
            ):
                # every version since the stamp is attributed to the
                # recorded paths: bounded refresh, not O(corpus)
                self._needs_full_index = False

    def recover_indexes(self) -> dict:
        """Converge every maintained index after a crash — the engine-tier
        twin of plans/txn.recover_txns: one optimize() re-syncs the FTS
        postings (bounded by the intent's recorded paths when the version
        chain proves them complete), and an interrupted ANN build re-runs
        with its recorded parameters. Idempotent; a clean engine is a
        no-op. Returns {"fts": bool, "ann": bool} (what actually ran)."""
        report = {"fts": False, "ann": False}
        if self._exists() and not self.index_is_fresh():
            self.optimize()
            report["fts"] = True
        if self._intent_ann is not None and self._exists():
            if self.ann_index_is_fresh() and self._ann_intent_satisfied(
                self._intent_ann
            ):
                # crash landed between the covers stamp and the intent
                # clear: the stamp proves A build completed, and the
                # parameter check proves it was THIS build (a fresh stamp
                # alone would also describe a pre-existing index when a
                # parameter-changing rebuild crashed before its write) —
                # clearing the record is the whole recovery, never an
                # O(corpus) rebuild for an O(1) problem
                from .plans.engine_txn import clear_ann_intent

                clear_ann_intent(self.table_path)
                self._intent_ann = None
            else:
                ann = self._intent_ann
                self.build_ann_index(
                    ann.get("n_cells"),
                    pq=bool(ann.get("pq")),
                    pq_m=int(ann.get("pq_m") or 8),
                )
                report["ann"] = True
        return report

    def _ann_intent_satisfied(self, ann: dict) -> bool:
        """Whether the built index matches the intent's recorded BUILD
        PARAMETERS — the covers stamp only proves some build finished;
        a crashed parameter-changing rebuild (new n_cells, pq=True) on
        an unmoved table would otherwise be silently discarded."""
        from .plans.ann_index import read_index_meta

        try:
            meta = read_index_meta(self.ann_index_path)
        except (FileNotFoundError, ValueError):
            return False
        want_cells = ann.get("n_cells")
        if want_cells is not None and int(
            meta.get("n_cells") or -1
        ) != int(want_cells):
            return False
        if ann.get("pq"):
            from .operators.pq import read_pq_sidecar

            try:
                read_pq_sidecar(self.ann_index_path)
            except FileNotFoundError:
                return False
        return True

    def _index_covers_table(self) -> bool:
        from .plans.fts import index_has_data, read_fts_stats
        from .plans.ingest import read_table_meta, table_version

        if not os.path.isdir(self.postings_path):
            return False
        tv = table_version(self.table_path)
        if tv is None:  # legacy table without version stamps
            return False
        covered = read_table_meta(self.postings_path).get("covers_table_version")
        return (
            covered == tv
            and index_has_data(self.postings_path)
            and read_fts_stats(self.postings_path) is not None
        )

    # -- reads ------------------------------------------------------------

    def _space(self) -> tuple[str, int]:
        """The embedding space new vectors must use: the TABLE's persisted
        space once the table exists (a re-opened engine must never embed
        queries or appends in a different space than the stored vectors —
        mixing dims makes every later distance meaningless), the
        constructor's backend/dim only for a brand-new table."""
        from .plans.ingest import table_embedding

        if self._exists():
            return table_embedding(
                self.table_path,
                default_backend=self.backend,
                default_dim=self.dim,
            )
        return self.backend, self.dim

    def _embed_query(self, text: str):
        b, d = self._space()
        return embed_query(text, d, b)

    def chunks(self) -> DataFrame:
        """The chunks table with the reference's read-side schema
        lifecycle applied (src/vectordb/index.ts:289-307, types.ts:245-250):
        a legacy table written before ``fileTitle``/``contentHash`` existed
        gains them as NULL string columns (the addColumns forward
        migration), and empty-string values in those columns normalize to
        null (LanceDB seeds nullable strings with '' because it cannot
        infer Arrow types from nulls; read converters undo it — P6).

        The migration is one ``selectExpr`` projection, and the frame is
        built once per table version (``_versioned``): a warm read costs
        one directory listing on the driver and no py4j call."""

        def build():
            df = read_parquet(self.spark, self.table_path)
            cols = []
            for c in df.columns:
                q = "`" + c.replace("`", "``") + "`"
                cols.append(
                    f"CASE WHEN length({q}) > 0 THEN {q} END AS {q}"
                    if c in _MIGRATED_COLS else q
                )
            cols += [
                f"CAST(NULL AS STRING) AS {c}"
                for c in _MIGRATED_COLS if c not in df.columns
            ]
            return df.selectExpr(*cols)

        return self._versioned(self.table_path, build)

    def _versioned(self, path: str, build) -> DataFrame:
        """The frame ``build()`` made of ``path`` at its current version.
        The key is the path's first-level listing signature
        (session._path_sig, the one _PQ_SCHEMA_CACHE trusts). Every write
        adds, removes or renames an entry in the table's top directory or
        in a bucket directory, which changes that directory's mtime or the
        root's entries, so a write by this engine or by any other writer
        makes the next call build afresh — a reused frame's file listing
        is never stale. A writer must keep that rule (see the comment on
        session._PQ_SCHEMA_CACHE): an in-place rewrite of a file under the
        same name inside a bucket directory would go unseen. One frame per path, nothing persisted. Safe for
        concurrent callers without a lock: a frame is stored with the
        signature taken before it was built, so whichever store wins, a
        frame older than the table never matches the current signature."""
        from .session import _path_sig

        # the signature is taken before build(): a write racing the build
        # only makes the next call build again
        try:
            sig = _path_sig(path)
        except OSError:
            return build()
        hit = self._frames.get(path)
        if hit is not None and hit[0] == sig:
            return hit[1]
        df = build()
        self._frames[path] = (sig, df)
        return df

    def index_is_fresh(self) -> bool:
        """Whether the maintained postings index exists AND covers every
        applied mutation (no un-optimized upserts/deletes pending). The
        condition the scan fallback and any serving tier both gate on —
        a sidecar (operators/hybrid_serve) may only answer queries from
        the persisted tables while this holds."""
        from .plans.fts import index_has_data

        return not (
            self._needs_full_index
            or self._dirty_upserts
            or self._dirty_deletes
            or not os.path.isdir(self.postings_path)
            # an index whose every document was deleted keeps its dir
            # (meta only) but is schemaless to Spark — scan fallback
            or not index_has_data(self.postings_path)
        )

    def _postings(self) -> DataFrame | None:
        """The maintained postings index, only when it is FRESH — stale
        (un-optimized mutations pending) falls back to the index-free scan
        so results are always correct; optimize() restores the fast path."""
        from .plans.fts import read_postings

        if not self.index_is_fresh():
            return None
        return self._versioned(
            self.postings_path,
            lambda: read_postings(self.spark, self.postings_path),
        )

    def _fts_stats(self) -> dict | None:
        from .plans.fts import read_fts_stats

        return read_fts_stats(self.postings_path)

    def query_documents(
        self,
        query_text: str,
        *,
        limit: int = 10,
        scope: list[str] | None = None,
        max_distance: float | None = None,
        grouping: str | None = None,
        hybrid_weight: float = search.DEFAULT_HYBRID_WEIGHT,
        max_files: int | None = None,
    ) -> DataFrame:
        """The hot path (§3.1): embed query -> hybrid vector+BM25 search.

        limit is clamped to [1, 20] and the hybrid weight to [0, 1] as in
        the reference (src/server/tool-input.ts:76-79,
        src/vectordb/types.ts:19). Raw-data rows get their ``source``
        restored from the managed path (``_answer``); file rows carry
        source = NULL.
        """
        limit = max(1, min(20, limit))
        hybrid_weight = max(0.0, min(1.0, hybrid_weight))
        # query vector under the SAME backend as the stored corpus vectors
        qv = self._embed_query(query_text)
        terms = query_terms(query_text)
        postings = self._postings()
        rows, schema = search.hybrid_search_rows(
            self.chunks(),
            qv,
            terms,
            k=limit,
            scope=scope,
            max_distance=max_distance,
            grouping=grouping,
            weight=hybrid_weight,
            max_files=max_files,
            postings=postings,
            bm25_stats=self._fts_stats() if postings is not None else None,
        )
        return self._answer(rows, schema, _HIT_COLS)

    def _answer(self, rows, schema, cols) -> DataFrame:
        """Response shaping (§3.1 step 9, src/server/index.ts:480-497) of
        a driver-reranked answer: the pyarrow ``rows``' ``cols`` plus
        ``source`` restored from each raw-data path by
        plans/raw_data.path_to_source (the sidecars' formula; NULL for
        file rows), made into one LocalRelation. A batch's ``query_id``
        comes out as ``query_index``."""
        import pyarrow as pa
        from pyspark.sql.types import StringType, StructField, StructType

        from .plans.raw_data import path_to_source

        names = ["query_index" if c == "query_id" else c for c in cols]
        fields = [
            StructField(n, schema[c].dataType, schema[c].nullable)
            for n, c in zip(names, cols)
        ] + [StructField("source", StringType())]
        sources = pa.array(
            [path_to_source(p, self.db_path)
             for p in rows.column("filePath").to_pylist()],
            pa.string(),
        )
        table = rows.select(list(cols)).rename_columns(names)
        return self.spark.createDataFrame(
            table.append_column("source", sources), schema=StructType(fields)
        )

    def query_documents_batch(
        self,
        query_texts: list[str],
        *,
        limit: int = 10,
        scope: list[str] | None = None,
        max_distance: float | None = None,
        hybrid_weight: float = search.DEFAULT_HYBRID_WEIGHT,
        grouping: str | None = None,
        max_files: int | None = None,
    ) -> DataFrame:
        """The FULL hybrid pipeline (vector + BM25 boost + filters) for N
        concurrent queries in ONE corpus scan — query_documents amortized
        the way ``search.vector_topk_batch`` amortizes the vector stage.
        Per-query results are row-identical to N query_documents calls at
        the same settings; the keyword side reads the maintained postings
        index when fresh (one pruned scan shared by all queries' terms)
        and otherwise scores the candidates' own text, with one corpus
        statistics pass for the batch. The rerank runs on the driver, so
        the result is a LocalRelation (nothing persisted, no job to
        collect).
        ``scope``/``max_distance``/``grouping`` apply to the whole batch
        (one request, one filter set — per-query filters belong in
        per-query query_documents calls). Returns (query_index, filePath,
        chunkIndex, text, fileTitle, score, source) — the same hit shape
        as query_documents plus the query_index — exactly ``limit`` rows
        per query before any file filter trims further."""
        limit = max(1, min(20, limit))
        hybrid_weight = max(0.0, min(1.0, hybrid_weight))
        qvecs = {
            str(i): self._embed_query(t) for i, t in enumerate(query_texts)
        }
        qterms = {
            str(i): query_terms(t) for i, t in enumerate(query_texts)
        }
        postings = self._postings()
        rows, schema = search.hybrid_search_batch_rows(
            self.chunks(),
            qvecs,
            qterms,
            k=limit,
            id_cols=("filePath", "chunkIndex"),
            weight=hybrid_weight,
            grouping=grouping,
            max_files=max_files,
            scope=scope,
            max_distance=max_distance,
            postings=postings,
            bm25_stats=self._fts_stats() if postings is not None else None,
            payload_cols=("text", "fileTitle"),
        )
        return self._answer(rows, schema, ("query_id", *_HIT_COLS))

    def read_chunk_neighbors(
        self, file_path: str, chunk_index: int, *, before: int = 2, after: int = 2
    ) -> DataFrame:
        return read_neighbors(
            self.chunks(),
            file_path,
            chunk_index,
            before=before,
            after=after,
            n_buckets=table_n_buckets(self.table_path),
        ).select("filePath", "chunkIndex", "text")

    def list_documents(self) -> DataFrame:
        """A1 per-file summary: chunkCount + max timestamp + title."""
        return (
            self.chunks()
            .groupBy("filePath")
            .agg(
                F.count("*").alias("chunkCount"),
                F.max("timestamp").alias("timestamp"),
                F.max("fileTitle").alias("fileTitle"),
                F.max("contentHash").alias("contentHash"),
            )
        )

    def get_status(self) -> dict:
        """A2: chunk + document counts, plus the engine-level facts a
        caller needs to interpret results: the table's embedding space
        and whether the maintained keyword index is fresh (stale index ->
        queries fall back to the index-free scan until optimize())."""
        from .plans.ingest import table_embedding

        row = self.chunks().agg(
            F.count("*").alias("chunks"), F.countDistinct("filePath").alias("documents")
        ).first()
        backend, dim = table_embedding(
            self.table_path, default_backend=self.backend, default_dim=self.dim
        )
        from .plans.engine_txn import read_intent

        it = read_intent(self.table_path)
        return {
            "chunkCount": row["chunks"],
            "documentCount": row["documents"],
            "backend": backend,
            "dim": dim,
            "indexFresh": self._postings() is not None,
            "annIndex": self.ann_index_status(),
            # crash-recovery visibility (plans/engine_txn): an open intent
            # means a mutation's index sync has not landed — an operator
            # (or cron) runs recover_indexes()/optimize() to converge
            "pendingIntent": {
                "full": bool(it.get("full") or it.get("refreshing")),
                "paths": len(it.get("paths") or ()),
                "annBuild": bool(it.get("ann")),
            }
            if it
            else None,
            # shard-managed corpus visibility: how many tar shards own
            # rows in this table (sync_shards' reconciliation domain)
            "shardContainers": len(self._shard_containers()),
        }

    def ann_index_status(self) -> dict:
        """Coverage report for the persisted IVF serving index: built?,
        covers the table's CURRENT content version (the covered-version
        handshake)?, cell count from the centroid sidecar. Pure
        filesystem reads — no Spark job — so a freshly restarted engine
        (CLI `status`, MCP `status`) can report its serving posture
        before running anything."""
        import os as _os

        built = _os.path.isdir(self.ann_index_path)
        n_cells = None
        if built:
            try:
                import pyarrow.parquet as pq

                from .plans.ann_index import CENTROIDS_FILE

                n_cells = pq.read_metadata(
                    _os.path.join(self.ann_index_path, CENTROIDS_FILE)
                ).num_rows
            except Exception:
                n_cells = None
        from .operators.pq import PQ_CODEBOOKS_FILE

        return {
            "built": built,
            "fresh": self.ann_index_is_fresh() if built else False,
            "nCells": n_cells,
            "pq": built
            and _os.path.isfile(
                _os.path.join(self.ann_index_path, PQ_CODEBOOKS_FILE)
            ),
            "path": self.ann_index_path,
        }

    # -- writes -----------------------------------------------------------

    def ingest_directory(self, root: str) -> int:
        """Bulk ingest ends with optimize() — compaction + index refresh —
        exactly once per run, the reference's amortized shape (every bulk
        ingest branch calls vectorDb.optimize() before returning,
        src/server/index.ts:543-549). Steady-state queries therefore hit
        the maintained postings index without any explicit caller step."""
        eb, ed = self._space()
        chunks, _ = ingest_directory(self.spark, root, dim=ed, backend=eb)
        self._commit(chunks, eb, ed)
        self.optimize()
        return self.chunks().count()

    def ingest_shards(self, shard_paths: list[str]) -> int:
        """Bulk ingest from WebDataset tar shards — same commit shape as
        ingest_directory (append/overwrite + one optimize() at the end),
        with shards as the parallelism grain. Shard membership + content
        hash persist as a table property AFTER the write (the directory-
        sync shield and sync_shards' change detection key off it)."""
        from .plans.ingest import ingest_webdataset

        shard_paths = [os.path.abspath(p) for p in shard_paths]
        # hash BEFORE the chunk build — the reference's race direction
        # (src/server/index.ts:583-591): if a shard is rewritten mid-
        # ingest, the property holds the PRE-ingest hash, so the next
        # sync_shards classifies it as changed and re-ingests; hashing
        # after would record the newer bytes against the older rows and
        # the change would go unseen forever
        hashes = {
            r["path"]: r["sha"]
            for r in read_files(self.spark, shard_paths)
            .select("path", F.lower(F.sha2("content", 256)).alias("sha"))
            .collect()
        }
        eb, ed = self._space()
        chunks = ingest_webdataset(self.spark, shard_paths, dim=ed, backend=eb)
        self._commit(chunks, eb, ed)
        self.optimize()
        self._set_shard_containers({**self._shard_containers(), **hashes})
        return self.chunks().count()

    def _commit(
        self,
        chunks: DataFrame,
        eb: str,
        ed: int,
        *,
        upserts: list[str] | set[str] | None = None,
        replace: bool = False,
    ) -> None:
        """The one write tail of every ingest source: record the index
        work, delete the stored rows being replaced, append the new rows
        (or create the table) and refresh Spark's listing of it.

        ``upserts`` are the paths whose postings the next optimize()
        re-derives; None records a full index rebuild (bulk ingest).
        ``replace`` deletes the stored rows of exactly those paths before
        the write — the parquet analogue of the reference's backup/
        delete/insert transaction (src/server/index.ts:644-702). Writers
        whose stale rows are not the upserted paths prune them first
        (``_prune``). The intent is recorded before the table changes
        (crash-durable ordering, plans/engine_txn)."""
        self._mark_index_dirty(full=upserts is None, upserts=upserts or ())
        with attribute_mutations(self.table_path):
            if replace and self._exists():
                delete_documents(self.spark, self.table_path, sorted(upserts))
            mode = "append" if self._exists() else "overwrite"
            write_chunks(chunks, self.table_path, mode=mode, backend=eb, dim=ed)
        self.spark.catalog.refreshByPath(self.table_path)

    def _prune(self, keys: DataFrame, *, stored: bool) -> int:
        """Delete every row whose key is in the one-column ``keys`` frame,
        recording the index work first. Returns the number of keys.

        ``stored`` says the keys are stored ``filePath`` spellings, deleted
        by exact match; otherwise they are sync keys, matched against the
        table's sync keys (case-folded on case-folding platforms). The
        index refresh stays per path when the paths are known and bounded
        (``_bounded``); sync keys on a case-folding platform, or more than
        PRUNE_COLLECT_CAP paths, mark a full rebuild instead. The keys are
        persisted: one snapshot serves the count, the collect and the
        delete, which rewrites the files they may be read from."""
        from .plans.ingest import delete_documents_df

        keys = keys.persist()
        try:
            paths = self._bounded(keys) if stored or not CASE_FOLD_KEYS else None
            n = len(paths) if paths is not None else keys.count()
            if n:
                self._mark_index_dirty(full=paths is None, deletes=paths or ())
                with attribute_mutations(self.table_path):
                    delete_documents_df(
                        self.spark,
                        self.table_path,
                        keys,
                        case_fold=CASE_FOLD_KEYS and not stored,
                    )
        finally:
            keys.unpersist()
        return n

    @staticmethod
    def _bounded(paths: DataFrame) -> list[str] | None:
        """The values of the one-column ``paths`` when there are at most
        PRUNE_COLLECT_CAP of them, else None: a larger change rebuilds
        the index instead of materializing an unbounded path list on the
        driver (at most PRUNE_COLLECT_CAP + 1 values are collected)."""
        rows = paths.limit(PRUNE_COLLECT_CAP + 1).collect()
        if len(rows) > PRUNE_COLLECT_CAP:
            return None
        return [r[0] for r in rows]

    def _shard_containers(self) -> dict[str, str]:
        """Tar shards whose ``<shard>#<sample>.<slot>`` rows this engine
        wrote, mapped to the shard's content sha256 (persisted table
        property). Membership — not the '#' path shape — is what makes a
        row shard-managed, the same discipline as record containers:
        directory sync shields these rows (a scan never lists a sample
        path, so without the shield every shard row would classify as
        prune), and sync_shards uses the stored hash for cheap
        change detection without expanding unchanged shards."""
        from .plans.ingest import read_table_meta

        sc = read_table_meta(self.table_path).get("shard_containers")
        if isinstance(sc, dict):
            return {str(k): str(v) for k, v in sc.items()}
        return {}

    def _set_shard_containers(self, containers: dict[str, str]) -> None:
        from .plans.ingest import write_table_meta

        write_table_meta(
            self.table_path,
            table_n_buckets(self.table_path),
            extra={"shard_containers": dict(sorted(containers.items()))},
        )

    def _shard_row_pred(self, shards):
        """Predicate: filePath belongs to one of the given shard
        containers (bounded OR over the driver-known shard list —
        fine at drop-directory counts; a corpus with millions of
        shards would switch this to a broadcast semi-join on the
        extracted prefix instead of a literal predicate chain)."""
        from functools import reduce

        preds = [F.col("filePath").startswith(s + "#") for s in shards]
        return reduce(lambda a, b: a | b, preds) if preds else F.lit(False)

    def sync_shards(self, shard_dir: str, *, pattern: str = "*.tar*") -> SyncReport:
        """Reconcile a DROP DIRECTORY of WebDataset tar shards into the
        table — the shard-grain twin of ``sync()``: new shards ingest,
        changed shards (content sha256 vs the persisted property)
        replace their rows wholesale, deleted shards prune theirs.
        Change detection hashes shard bytes distributed (one bounded row
        per shard back to the driver) WITHOUT expanding unchanged shards;
        a CORRUPT shard keeps its stored rows and surfaces a warning every
        sync (parse-before-delete, ingest_file's contract), and so does a
        shard whose TEXT MEMBERS produced no chunks (member-level parse
        failure / all-garbage rewrite — zero-chunk outcomes never delete);
        only a cleanly-parsed shard with ZERO text members records its
        hash — unchanged on later syncs, no re-expansion loop — and
        replaces any stored rows from a previously text-bearing version."""
        import glob as _glob

        from .plans.ingest import ingest_webdataset
        from .plans.repack import recover_pending_repack

        spark = self.spark
        shard_dir = os.path.abspath(shard_dir)
        # a crashed repack's half-applied file ops would make this sync
        # double-serve live samples (old and new tars both present) —
        # complete the pending intent first; the directory is then the
        # truth and this sync converges normally
        recover_pending_repack(self)
        listing = sorted(
            p
            for p in _glob.glob(os.path.join(shard_dir, pattern))
            if os.path.isfile(p)
        )
        known = self._shard_containers()
        under = {p: h for p, h in known.items() if p.startswith(shard_dir + os.sep)}
        disk_hash: dict[str, str] = {}
        if listing:
            disk_hash = {
                r["path"]: r["sha"]
                for r in read_files(spark, listing)
                .select("path", F.lower(F.sha2("content", 256)).alias("sha"))
                .collect()
            }
        new = sorted(p for p in disk_hash if p not in known)
        changed = sorted(p for p in disk_hash if p in known and known[p] != disk_hash[p])
        gone = sorted(p for p in under if p not in disk_hash)
        warnings: list[str] = []
        counters = {"upsert_new": 0, "upsert": 0, "prune": 0, "unchanged": 0}
        counters["unchanged"] = len(disk_hash) - len(new) - len(changed)

        upserts = new + changed
        produced: set[str] = set()
        clean_empty: set[str] = set()
        if upserts:
            eb, ed = self._space()
            chunks = ingest_webdataset(
                spark, upserts, dim=ed, backend=eb, errors="record"
            ).persist()
            shard_of = F.element_at(
                F.filter(
                    F.array(*[F.lit(s) for s in upserts]),
                    lambda c: F.col("filePath").startswith(F.concat(c, F.lit("#"))),
                ),
                1,
            )
            produced = {
                r["s"] for r in chunks.select(shard_of.alias("s")).distinct().collect()
            }
            # a shard that produced nothing is one of THREE states, told
            # apart by one bounded re-expand of only the non-producing
            # shards: CORRUPT (tar parse failed — keep stored rows, keep
            # warning every sync: parse-before-delete); cleanly parsed
            # with ZERO text members (a legitimate state whose hash must
            # persist, else every later sync re-expands it forever just
            # to re-warn); or cleanly parsed WITH text members that
            # produced no chunks — a member-level parse failure or an
            # all-garbage rewrite, which must KEEP the stored rows and
            # keep warning (ingest_file's contract: zero-chunk outcomes
            # fail fast before any destructive write), never masquerade
            # as 'no text members' and silently delete (r14 review).
            not_produced = [p for p in upserts if p not in produced]
            text_no_chunks: set[str] = set()
            if not_produced:
                from .sources.webdataset import (
                    CORRUPT_SLOT,
                    TEXT_SLOTS,
                    expand_shards,
                )

                fmt = F.element_at(F.split(F.col("slot"), r"\."), -1)
                info = {
                    r["shard"]: (bool(r["corrupt"]), bool(r["has_text"]))
                    for r in expand_shards(
                        read_files(spark, not_produced), errors="record"
                    )
                    .groupBy("shard")
                    .agg(
                        F.max(
                            (F.col("slot") == F.lit(CORRUPT_SLOT)).cast("int")
                        ).alias("corrupt"),
                        F.max(fmt.isin(list(TEXT_SLOTS)).cast("int")).alias(
                            "has_text"
                        ),
                    )
                    .collect()
                }
                corrupt = {s for s, (c, _t) in info.items() if c}
                clean_empty = {
                    s for s, (c, t) in info.items() if not c and not t
                }
                text_no_chunks = set(not_produced) - corrupt - clean_empty
                for p in sorted(corrupt):
                    warnings.append(
                        f"shard upsert skipped (corrupt), stored rows kept: {p}"
                    )
                for p in sorted(text_no_chunks):
                    warnings.append(
                        "shard upsert skipped (text members produced no"
                        f" chunks), stored rows kept: {p}"
                    )
                # a warning on FIRST sight only — the persisted hash makes
                # later syncs classify the shard as unchanged
                for p in sorted(clean_empty):
                    warnings.append(
                        f"shard has no text members (hash recorded): {p}"
                    )
            # stale-delete covers ALL produced upserts, not just changed
            # ones: a crash between a NEW shard's write and the property
            # update leaves rows the property doesn't know about — the
            # retry classifies the shard as new again, and without this
            # the second append would duplicate every sample (for a truly
            # new shard the delete is a no-op). Clean-empty shards are in
            # the replace set too: a shard REWRITTEN to zero text members
            # was parsed successfully (parse-before-delete satisfied), so
            # its new truth — no rows — replaces the stored ones.
            replaced = [p for p in upserts if p in produced or p in clean_empty]
            if self._exists() and replaced:
                # the stale rows are stored spellings: exact-match delete
                self._prune(
                    self.chunks()
                    .filter(self._shard_row_pred(replaced))
                    .select("filePath")
                    .distinct(),
                    stored=True,
                )
            if produced:
                # per-path index refresh while the touched path set is
                # bounded — a 2-shard edit costs an O(changed) postings
                # refresh, not an O(corpus) rebuild
                kept = chunks.filter(shard_of.isin(sorted(produced)))
                self._commit(
                    kept,
                    eb,
                    ed,
                    upserts=self._bounded(kept.select("filePath").distinct()),
                )
            chunks.unpersist()
            counters["upsert_new"] = len(
                [p for p in new if p in produced or p in clean_empty]
            )
            counters["upsert"] = len(
                [p for p in changed if p in produced or p in clean_empty]
            )

        if gone and self._exists():
            self._prune(
                self.chunks()
                .filter(self._shard_row_pred(gone))
                .select("filePath")
                .distinct(),
                stored=True,
            )
            counters["prune"] = len(gone)

        if upserts or gone:
            updated = dict(known)
            for p in produced | clean_empty:
                updated[p] = disk_hash[p]
            for p in gone:
                updated.pop(p, None)
            self._set_shard_containers(updated)
            # _exists(): a sync whose only work was zero-text membership
            # (first sync of a metadata-only drop) leaves a table dir with
            # the property sidecar but NO parquet — optimize()'s compactor
            # would crash reading a schemaless dir
            if self._exists():
                self.optimize()
        return SyncReport(counters=counters, warnings=warnings)

    def repack_shards(
        self,
        shard_dir: str,
        *,
        pattern: str = "*.tar*",
        samples_per_shard: int = 1000,
        min_utilization: float = 0.5,
        reclaim_rowless: bool = False,
    ) -> dict:
        """Shard-grain compaction: merge sparse/small shards' live samples
        into full new shards under the repack intent protocol (see
        plans/repack — crash-recoverable; output samples are re-keyed, so
        epoch cursors do not survive a repack; wholly-rowless shards are
        skipped unless ``reclaim_rowless`` vouches no writer is
        mid-flight)."""
        from .plans.repack import repack_shards

        return repack_shards(
            self,
            shard_dir,
            pattern=pattern,
            samples_per_shard=samples_per_shard,
            min_utilization=min_utilization,
            reclaim_rowless=reclaim_rowless,
        )

    def ingest_file(
        self,
        file_path: str,
        *,
        visual: bool = False,
        visual_quality: str = "fast",
    ) -> dict:
        """ingest_file tool (reference §3.2, src/server/index.ts:530-719):
        parse one file, chunk+embed, and REPLACE its stored rows.

        Zero-chunk outcomes fail fast BEFORE any destructive write — the
        existing rows survive (reference :635-642). The delete+append pair
        below is the parquet analogue of the reference's backup/delete/
        insert/rollback transaction simulation; with Delta it would be one
        atomic replaceWhere. Returns {filePath, chunkCount, fileTitle}.

        ``visual=True`` (PDF only, reference ingest_file's visual flag,
        src/ingest/visual.ts:100-160) runs the T10→T12 lane on the SAME
        bytes: detect figure pages from real image/stroke blocks, render
        each candidate's crop, caption it (deterministic fake captioner
        unless a real VLM backend is importable), and append the caption
        chunks after the document's text chunks before the write.
        """
        file_path = os.path.abspath(file_path)
        files = read_files(self.spark, [file_path])
        # the file is read and parsed once: the persisted row serves the
        # error gate, the returned title and the chunk build
        parsed = parse_hashed(files).persist()
        try:
            head = parsed.select("parse_error", "title").first()
            if head and head["parse_error"]:
                raise ValueError(
                    f"parse failed for {file_path}: {head['parse_error']}"
                )
            eb, ed = self._space()
            docs = parsed.filter(F.col("parse_error").isNull())
            new_chunks = build_chunks(docs, dim=ed, backend=eb).persist()
            n = new_chunks.count()
        finally:
            parsed.unpersist()
        if n and visual and file_path.lower().endswith(".pdf"):
            from .embedder import embed_text_column
            from .operators.multimodal import visual_caption_rows

            cap = visual_caption_rows(files, new_chunks, quality=visual_quality)
            cap = embed_text_column(cap, "text", "vector", dim=ed, backend=eb)
            meta = new_chunks.select(
                "filePath", "metadata", "fileTitle", "contentHash"
            ).dropDuplicates(["filePath"])
            cap_rows = (
                cap.join(meta, cap["doc_key"] == meta["filePath"])
                .select(
                    F.expr("uuid()").alias("id"),
                    "filePath",
                    F.col("chunk_index").alias("chunkIndex"),
                    "text",
                    "vector",
                    "metadata",
                    "fileTitle",
                    "contentHash",
                    F.date_format(
                        F.current_timestamp(), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
                    ).alias("timestamp"),
                )
            )
            merged = new_chunks.unionByName(cap_rows).persist()
            n = merged.count()
            new_chunks.unpersist()
            new_chunks = merged
        try:
            if n == 0:
                raise ValueError(
                    f"no chunks produced for {file_path}; existing rows left intact"
                )
            self._commit(new_chunks, eb, ed, upserts=[file_path], replace=True)
        finally:
            new_chunks.unpersist()
        return {
            "filePath": file_path,
            "chunkCount": n,
            "fileTitle": head["title"] if head else None,
        }

    def ingest_data(
        self,
        content: str,
        source: str,
        *,
        format: str = "markdown",
    ) -> int:
        """ingest_data tool: content not backed by a file (reference
        src/server/index.ts ingest_data dispatch). HTML goes through the
        main-content extractor (T14); the row is stored under the managed
        raw-data path <db>/raw-data/<base64url(source)>.md so the source is
        recoverable (S10, src/utils/raw-data-utils.ts:106-141). Re-ingest of
        the same source replaces the stored rows. Returns the chunk count.

        Zero-chunk outcomes (empty/whitespace content, HTML that extracts
        to nothing) fail fast BEFORE the delete, exactly like ingest_file —
        the reference routes ingest_data through the same zero-chunk guard
        (src/server/index.ts:637-642, 753-757), so a bad re-ingest never
        destroys the stored rows."""
        import hashlib

        from .plans.raw_data import source_to_path
        from .sources.html import parse_html_text
        from .sources.parsers import extract_md_title, extract_txt_title

        # ALWAYS the engine's own managed root: a per-call override would
        # write rows that source restoration and sync's managed-row
        # protection (both keyed on self.db_path) can never recognize —
        # the next sync would classify them as prune and delete them
        path = source_to_path(source, self.db_path)
        if format == "html":
            parsed = parse_html_text(path, content)
            text, title = parsed["text"], parsed["title"]
            if not (text or "").strip():
                raise ValueError(
                    f"HTML extraction produced no text for {source};"
                    " existing rows left intact"
                )
        elif format == "markdown":
            text, title = content, extract_md_title(content, path)
        else:
            text, title = content, extract_txt_title(content, path)
        docs = self.spark.createDataFrame(
            [(path, text, title,
              hashlib.sha256(content.encode()).hexdigest(), len(text))],
            "path string, text string, title string, contentHash string,"
            " length long",
        )
        eb, ed = self._space()
        new_chunks = build_chunks(docs, dim=ed, backend=eb).persist()
        try:
            n = new_chunks.count()
            if n == 0:
                raise ValueError(
                    f"no chunks produced for {source}; existing rows left intact"
                )
            self._commit(new_chunks, eb, ed, upserts=[path], replace=True)
        finally:
            new_chunks.unpersist()
        return n

    def ingest_records_file(self, file_path: str) -> dict:
        """Ingest a multi-record container (.jsonl / .csv / .xml /
        .arrow / .feather / .parquet, optionally envelope-compressed):
        each
        record becomes its own document at ``<file>#r<index>``, chunked and
        embedded through the SAME build_chunks pipeline as file ingest.

        Extension beyond the reference's one-file-one-document parser
        registry (src/parser/index.ts) — training corpora arrive as record
        containers. Replace semantics cover the whole container: rows from
        a previous version of the file (including records that no longer
        exist) are deleted in ONE batched bucket rewrite, but only after
        the new parse produced at least one chunk (zero-chunk guard, same
        contract as ingest_file).
        """
        from .sources.structured import parse_structured_files

        file_path = os.path.abspath(file_path)
        content = read_files(self.spark, [file_path])
        # ONE materialization of the parsed container: the error check,
        # record count, and chunk build below all read the persisted
        # records instead of re-reading + re-parsing the file per job
        records = parse_structured_files(content).persist()
        try:
            err = (
                records.filter(F.col("parse_error").isNotNull())
                .select("parse_error")
                .first()
            )
            if err:
                raise ValueError(
                    f"parse failed for {file_path}: {err['parse_error']}"
                )
            n_records = records.count()
            docs = records.select(
                F.concat(
                    F.col("path"), F.lit("#r"), F.col("record_index").cast("string")
                ).alias("path"),
                "text",
                "title",
                F.lower(F.sha2(F.col("text").cast("binary"), 256)).alias("contentHash"),
                F.length("text").cast("long").alias("length"),
            )
            eb, ed = self._space()
            new_chunks = build_chunks(docs, dim=ed, backend=eb).persist()
            n = new_chunks.count()
            if n == 0:
                new_chunks.unpersist()
                raise ValueError(
                    f"no chunks produced for {file_path}; existing rows left intact"
                )
        finally:
            records.unpersist()
        try:
            if self._exists():
                # every stored row of this container, under any previous
                # record set — prefix match on '<file>#r', one batched delete
                self._prune(
                    self.chunks()
                    .select("filePath")
                    .where(F.col("filePath").startswith(file_path + "#r"))
                    .distinct(),
                    stored=True,
                )
            # index dirtiness is tracked at RECORD granularity — the
            # postings refresh filters chunks by exact filePath, and stored
            # rows live under the per-record paths, not the container path
            self._commit(
                new_chunks,
                eb,
                ed,
                upserts={f"{file_path}#r{i}" for i in range(n_records)},
            )
        finally:
            new_chunks.unpersist()
        # record container membership as a table property: sync classifies
        # record rows by THIS set, never by the '#rN' path shape alone
        self._set_record_containers(self._record_containers() | {file_path})
        return {"filePath": file_path, "recordCount": n_records, "chunkCount": n}

    def _record_containers(self) -> set[str]:
        """Container files whose ``<file>#rN`` record rows this engine
        wrote (persisted table property). Membership here — not a path
        pattern — is what makes a row a managed record row: a real
        on-disk file that happens to be NAMED ``notes#r1`` and was
        ingested via sync is NOT in this set, so sync reconciles it like
        any other document instead of silently excluding it and then
        deleting its rows when the container check finds no file at
        ``notes``.

        Tables written BEFORE the property existed (key absent, not
        empty) are migrated once: their record rows were only ever
        identifiable by the historical ``#rN`` path shape, so the
        property is seeded from that sweep — without this, a routine
        sync on an upgraded table would classify every legacy record row
        as prune and silently destroy it."""
        from .plans.ingest import read_table_meta

        rc = read_table_meta(self.table_path).get("record_containers")
        if isinstance(rc, list):
            return {str(c) for c in rc}
        if not self._exists():
            return set()
        seeded = {
            r["c"]
            for r in self.chunks()
            .filter(F.col("filePath").rlike(r"#r\d+$"))
            .select(F.regexp_extract("filePath", r"^(.*)#r\d+$", 1).alias("c"))
            .distinct()
            .collect()
            if r["c"]
        }
        self._set_record_containers(seeded)
        return seeded

    def _set_record_containers(self, containers: set[str]) -> None:
        from .plans.ingest import write_table_meta

        write_table_meta(
            self.table_path,
            table_n_buckets(self.table_path),
            extra={"record_containers": sorted(containers)},
        )

    def delete_document(self, file_path: str) -> int:
        # intent BEFORE the rewrite (crash-durable); a miss (n == 0)
        # leaves the path in the dirty sets, which the next optimize()
        # re-derives as a no-op — conservative, never wrong
        self._mark_index_dirty(deletes=[file_path])
        with attribute_mutations(self.table_path):
            return delete_document(self.spark, self.table_path, file_path)

    def optimize(self) -> None:
        """S9 + index refresh — the reference's amortized per-bulk-run
        ``optimize()`` (compaction + FTS refresh in one call,
        src/vectordb/index.ts:310-324)."""
        compact_chunks(self.spark, self.table_path)
        from .plans.engine_txn import clear_fts_intent, publish_intent
        from .plans.fts import refresh_postings, write_postings

        if self._needs_full_index or not os.path.isdir(self.postings_path):
            # 'refreshing' marks the rewrite window: a crash inside it
            # can tear a postings bucket (dynamic overwrite is atomic per
            # dir, not per job), so recovery after this point must take
            # the full rebuild, never a bounded refresh over a torn index
            publish_intent(self.table_path, refreshing=True, full=True)
            # bucket-align the index with the chunks table's persisted count
            write_postings(
                self.chunks(),
                self.postings_path,
                n_buckets=table_n_buckets(self.table_path),
            )
        elif self._dirty_upserts or self._dirty_deletes:
            publish_intent(self.table_path, refreshing=True)
            changed = (
                self.chunks().filter(
                    F.col("filePath").isin(sorted(self._dirty_upserts))
                )
                if self._dirty_upserts
                else None
            )
            refresh_postings(
                self.spark,
                self.postings_path,
                changed_chunks=changed,
                deleted_paths=sorted(self._dirty_deletes),
            )
        self._dirty_upserts.clear()
        self._dirty_deletes.clear()
        self._needs_full_index = False
        # record which table version the index now covers — the restart
        # handshake read by _index_covers_table. Stamped AFTER the
        # compaction above, whose bucket rewrite bumps the version.
        from .plans.ingest import table_n_buckets as _nb
        from .plans.ingest import table_version, write_table_meta

        tv = table_version(self.table_path)
        if tv is not None:
            write_table_meta(
                self.postings_path,
                _nb(self.postings_path),
                extra={"covers_table_version": tv},
            )
        # the stamp above is the commit point; clearing after it means a
        # crash in between re-runs an idempotent no-op refresh — never a
        # cleared intent with an unstamped index
        clear_fts_intent(self.table_path)

    def build_ann_index(
        self, n_cells: int | None = None, *, pq: bool = False, pq_m: int = 8
    ) -> int:
        """Build/refresh the chunks-corpus IVF index (plans/ann_index.
        build_chunks_ivf) and stamp the table version it covers. Returns
        the cell count. ``pq=True`` additionally trains the residual-PQ
        codebook sidecar (operators/pq, O(1) build cost in corpus size)
        so the server can run quantization='pq'. Serving:

            IvfVectorServer(engine.ann_index_path, id_col="id",
                            vec_col="vector",
                            payload_cols=("filePath", "chunkIndex"))
        """
        from .plans.ann_index import build_chunks_ivf
        from .plans.engine_txn import clear_ann_intent, publish_intent
        from .plans.ingest import table_n_buckets as _nb
        from .plans.ingest import table_version, write_table_meta

        if pq:
            # validate BEFORE the (expensive) rebuild: a bad m would
            # otherwise waste the build and leave the index unstamped
            _, dim = self._space()
            if dim % pq_m != 0:
                raise ValueError(f"dim {dim} not divisible by pq_m {pq_m}")
        # crash-durable build record: an interrupted build (or a crash
        # before the covering stamp) re-runs with the SAME parameters via
        # recover_indexes() instead of serving a stale/torn index
        publish_intent(
            self.table_path,
            ann={
                "n_cells": n_cells,
                "pq": bool(pq),
                "pq_m": int(pq_m),
            },
        )
        n = build_chunks_ivf(
            self.spark, self.table_path, self.ann_index_path, n_cells=n_cells
        )
        if pq:
            from .operators.pq import encode_index_codes, train_pq_for_index

            train_pq_for_index(self.ann_index_path, vec_col="vector", m=pq_m)
            # persisted codes: cold PQ cell loads read m bytes/row instead
            # of the vector column, and skip the encode CPU
            encode_index_codes(
                self.spark, self.ann_index_path, id_col="id", vec_col="vector"
            )
        tv = table_version(self.table_path)
        if tv is not None:
            write_table_meta(
                self.ann_index_path,
                _nb(self.ann_index_path),
                extra={"covers_table_version": tv},
            )
        clear_ann_intent(self.table_path)
        self._intent_ann = None
        return n

    def ann_index_is_fresh(self) -> bool:
        """Whether the ANN index covers the chunks table's CURRENT
        content version (same restart handshake as the FTS index)."""
        import os as _os

        from .plans.ingest import read_table_meta, table_version

        if not _os.path.isdir(self.ann_index_path):
            return False
        covered = read_table_meta(self.ann_index_path).get("covers_table_version")
        tv = table_version(self.table_path)
        return covered is not None and covered == tv

    # -- incremental sync (§2.7 plan + execute) ---------------------------

    def sync(self, root: str, *, exclude_prefixes: tuple[str, ...] = ()) -> SyncReport:
        """Gather -> plan -> execute: upserts (changed/new/dirty docs
        re-ingested), prunes (stored docs gone from disk, unless under an
        unobserved region or excluded), one compaction at the end —
        matching the reference's execution order and amortized optimize
        (src/features/sync.ts:401-468, src/server/index.ts:543-549)."""
        scan = scan_directory(root, exclude_prefixes=exclude_prefixes)
        spark = self.spark

        files = read_files(spark, [f["path"] for f in scan.files])
        disk = files.select(
            F.col("path").alias("filePath"),
            sync_path_key(F.col("path"), case_fold=CASE_FOLD_KEYS).alias("key"),
            F.lower(F.sha2(F.col("content"), 256)).alias("hash"),
        ).drop("content")

        containers = sorted(self._record_containers())
        if self._exists():
            # managed rows are NOT subject to directory reconciliation
            # (reference: "prune unless protected ... managed raw-data",
            # src/features/sync.ts): raw-data virtual paths never exist on
            # disk, and '<file>#rN' record rows are owned by
            # ingest_records_file — scan_directory never lists either, so
            # leaving them in the plan would classify every one as prune
            # and a routine sync would silently destroy them. Record rows
            # are identified by CONTAINER MEMBERSHIP (the persisted
            # record_containers property), never by the '#rN' path shape
            # alone — a real file named 'notes#r1' ingested via sync stays
            # in the reconciliation plan.
            rec_managed = (
                F.col("filePath").rlike(r"#r\d+$")
                & F.regexp_extract("filePath", r"^(.*)#r\d+$", 1).isin(containers)
                if containers
                else F.lit(False)
            )
            managed = rec_managed | F.col("filePath").startswith(
                self.db_path.rstrip("/") + "/raw-data/"
            )
            # shard-member rows (shard#sample.slot) are owned by
            # ingest_shards/sync_shards — a directory scan never lists a
            # sample path, so without this shield every shard row would
            # classify as prune and a routine directory sync would
            # silently destroy the shard corpus. Membership by the
            # persisted property, same discipline as record containers.
            shard_cs = sorted(self._shard_containers())
            if shard_cs:
                managed = managed | self._shard_row_pred(shard_cs)
            db = (
                self.chunks()
                .filter(~managed)
                .select(
                    "filePath",
                    sync_path_key(F.col("filePath"), case_fold=CASE_FOLD_KEYS).alias("key"),
                    F.col("contentHash").alias("hash"),
                )
            )
        else:
            db = spark.createDataFrame([], "filePath string, key string, hash string")

        # excluded subtrees are UNOBSERVED, not absent: scan never lists
        # them, so without this protection every previously-ingested doc
        # under an exclude prefix would classify as prune and a routine
        # sync-with-exclusions would silently delete it from the index
        shielded = list(scan.unobserved_prefixes) + [
            p.rstrip("/") for p in exclude_prefixes
        ]
        plan = plan_sync(
            db.withColumn("source", F.lit(None).cast("string")),
            disk.select("key", "hash"),
            unobserved_prefixes=[_py_sync_key(p) for p in shielded],
        ).persist()
        counters = {r["action"]: r["n"] for r in sync_counters(plan).collect()}

        # execute: upserts first (delete stale rows + re-ingest), then prunes
        # the ONLY per-key driver materialization left is the upsert set —
        # inherent: re-ingest must hand the file list to read_files, and it
        # is bounded by the bulk run's changed-file count (the reference
        # drives re-ingest from its own driver the same way). Prune keys
        # never surface as a list; their delete is DataFrame-native below.
        upsert_keys = {
            r["key"]
            for r in plan.filter(F.col("action").isin("upsert", "upsert_new")).collect()
        }

        upsert_paths = [
            f["path"] for f in scan.files if _py_sync_key(f["path"]) in upsert_keys
        ]
        upsert_warnings: list[str] = []
        if upsert_paths:
            # PARSE BEFORE DELETE: a doc whose re-parse fails (or yields
            # zero chunks) must keep its stored rows — ingest_file's
            # 'existing rows left intact' contract. Deleting first would
            # turn a transient parse failure into permanent data loss that
            # the report counts as a successful upsert.
            docs = parse_hashed(read_files(spark, upsert_paths))
            docs = docs.filter(F.col("parse_error").isNull())
            eb, ed = self._space()
            new_chunks = build_chunks(docs, dim=ed, backend=eb).persist()
            produced = {
                r["filePath"]
                for r in new_chunks.select("filePath").distinct().collect()
            }
            for p in upsert_paths:
                if p not in produced:
                    upsert_warnings.append(
                        f"upsert skipped (parse failed or no chunks), stored rows kept: {p}"
                    )
            if produced:
                if self._exists():
                    # ALL stored spellings of the SUCCESSFULLY re-parsed
                    # keys go in ONE DataFrame-native batched delete
                    # (anti-join bucket rewrite). On case-folding
                    # platforms a stored spelling differing from the
                    # re-ingested path can hold postings rows the per-path
                    # refresh would miss, so the prune marks a rebuild.
                    produced_keys = sorted(_py_sync_key(p) for p in produced)
                    self._prune(
                        plan.filter(F.col("key").isin(produced_keys)).select("key"),
                        stored=False,
                    )
                self._commit(
                    new_chunks,
                    eb,
                    ed,
                    upserts=[p for p in upsert_paths if p in produced],
                )
            new_chunks.unpersist()

        n_prunes = counters.get("prune", 0)
        if n_prunes:
            # the prune key set stays a DataFrame end-to-end — the delete
            # routes bucket rewrites by anti join, collecting only bucket
            # ids, so pruning the whole corpus never materializes its paths
            self._prune(
                plan.filter(F.col("action") == "prune").select("key"),
                stored=False,
            )

        # record-container rows were excluded from the plan; the one sync
        # action they DO honor is container deletion — records of a
        # container that no longer exists on disk are pruned (mapped back
        # to the container path, per-container driver check: bounded by
        # container count, not record count)
        n_stale_records = 0
        if self._exists() and containers:
            # the container set is the persisted property, not a regex
            # sweep over stored paths — bounded by container count and
            # immune to lookalike file names
            gone = sorted(c for c in containers if c and not os.path.isfile(c))
            if gone:
                n_stale_records = self._prune(
                    self.chunks()
                    .filter(F.col("filePath").rlike(r"#r\d+$"))
                    .filter(
                        F.regexp_extract("filePath", r"^(.*)#r\d+$", 1).isin(gone)
                    )
                    .select("filePath")
                    .distinct(),
                    stored=True,
                )
                if n_stale_records:
                    counters["prune"] = counters.get("prune", 0) + n_stale_records
                # drop the pruned containers from the membership property
                # (after the delete, so a failed delete keeps them managed)
                self._set_record_containers(set(containers) - set(gone))

        if upsert_paths or n_prunes or n_stale_records:
            self.optimize()
        plan.unpersist()
        # coverage facts surface as warnings (reference SyncStatusResult
        # warnings, src/server/types.ts:300-339): every unobserved region
        # that withheld prunes is reported, not silently swallowed
        warnings = (
            [f"unreadable dir: {p}" for p in scan.unreadable_dirs]
            + [f"depth-limited dir: {p}" for p in scan.depth_limited_dirs]
            + [f"skipped symlink: {p}" for p in scan.skipped_symlinks]
            + [f"oversized file: {p}" for p in scan.oversized_files]
            + upsert_warnings
        )
        return SyncReport(counters=counters, warnings=warnings)

    # -- keyword-only search (FTS surface) --------------------------------

    def keyword_search(self, query_text: str, *, limit: int = 10) -> DataFrame:
        postings = self._postings()
        stats = self._fts_stats() if postings is not None else None
        # only the per-query build is worth caching: the maintained index
        # is a pruned parquet scan, and a persist of it is never released
        built = postings is None
        if built:
            postings = build_postings(self.chunks(), tokenizer="unigram")
        terms = query_terms(query_text)
        scores = bm25_scores(postings, terms, stats=stats, materialize=built)
        return (
            scores.orderBy(F.col("_score").desc(), "filePath", "chunkIndex")
            .limit(max(1, min(20, limit)))
        )

    def _exists(self) -> bool:
        return os.path.isdir(self.table_path) and any(
            name.startswith("bucket=") or name.endswith(".parquet")
            for name in os.listdir(self.table_path)
        )
