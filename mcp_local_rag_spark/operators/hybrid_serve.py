"""Serving-path HYBRID search — the complete query_documents pipeline
(reference §3.1 steps 4-9) served from pyarrow + numpy, no Spark job.

The third sidecar over the Spark-written layout (with
neighbors.NeighborServer and vector_serve.VectorSearchServer): the corpus
snapshot loads once (vector matrix + text/title payload), the persisted
BM25 postings index answers per-term lookups through parquet row-group
pruning (the buckets are term-sorted at write time — plans/fts), and the
corpus statistics come from the index's table properties. Per query:
one matmul top-k, a <= 2k-row grouping pass, a few-term postings read,
the boost formula, the per-file filter, the final top-k — all in-process.

PARITY IS THE CONTRACT: results are row-identical to
``RagEngine.query_documents`` at the same settings (pinned by
tests/test_hybrid_serve.py). The vector stage is VectorSearchServer
(decimal HALF_UP at 6, shared total order); steps 5-8 are the driver tail
``search.hybrid_search`` itself reranks with (``group_candidates``,
``bm25.bm25_sum``, ``boost_rows``, ``file_cut``, ``top_rows``), so only
the candidate and postings sources differ between the two paths.

Maintenance contract: ``invalidate()`` after ingest/delete/optimize,
same as the other sidecars. Serving correctness requires a FRESH index
(the engine falls back to scan scoring when mutations are pending;
a serving tier swaps snapshots only after optimize()).
"""

from __future__ import annotations

import os

from ..embedder import embed_query
from ..functions.text import query_terms
from ..plans.raw_data import path_to_source
from .bm25 import bm25_sum
from .search import (
    CANDIDATE_MULTIPLIER,
    DEFAULT_HYBRID_WEIGHT,
    boost_rows,
    file_cut,
    group_candidates,
    top_rows,
)
from .vector_serve import VectorSearchServer


class HybridSearchServer:
    """query_documents at serving latency over the persisted tables."""

    def __init__(self, table_path: str, postings_path: str | None = None, *,
                 db_path: str = "/data/db"):
        if postings_path is None:
            postings_path = table_path.rstrip("/") + "_fts"
        self._table = table_path
        self._postings = postings_path
        self._db_path = db_path
        self._vec = VectorSearchServer(table_path)
        self._payload: dict | None = None  # (path, idx) -> (text, fileTitle)
        self._pdataset = None
        self._stats: dict | None = None
        # term -> (df, {(path, idx) -> (tf, dl)}) — repeated query terms
        # skip the parquet read entirely; bounded (common query
        # vocabularies are small). invalidate() REPLACES the dict (never
        # mutates it) so a concurrent query's local ref stays a coherent
        # point-in-time snapshot — same discipline as the other sidecars.
        self._term_cache: dict = {}
        self._loaded_version: str | None = None

    MAX_CACHED_TERMS = 4096

    def invalidate(self) -> None:
        self._vec.invalidate()
        self._payload = None
        self._pdataset = None
        self._stats = None
        self._term_cache = {}
        # the version label goes with the caches it labels
        self._loaded_version = None

    # -- snapshot loads ----------------------------------------------------

    def _load_payload(self) -> dict:
        payload = self._payload
        if payload is not None:
            return payload
        import pyarrow.dataset as ds

        dset = ds.dataset(self._table, format="parquet")
        names = set(dset.schema.names)
        # fileTitle is optional (synthetic benchmark tables lack it);
        # text is the response payload proper
        cols = ["filePath", "chunkIndex", "text"] + (
            ["fileTitle"] if "fileTitle" in names else []
        )
        tbl = dset.to_table(columns=cols)
        titles = (
            tbl["fileTitle"].to_pylist()
            if "fileTitle" in names
            else [None] * len(tbl)
        )
        payload = {
            # '' -> None on fileTitle, matching the engine's read-side
            # normalization (RagEngine.chunks, reference P6)
            (p, int(i)): (t, ft if ft else None)
            for p, i, t, ft in zip(
                tbl["filePath"].to_pylist(),
                tbl["chunkIndex"].to_pylist(),
                tbl["text"].to_pylist(),
                titles,
            )
        }
        self._payload = payload
        return payload

    def _postings_dataset(self):
        if self._pdataset is None:
            import pyarrow.dataset as ds

            self._pdataset = ds.dataset(
                self._postings, format="parquet", partitioning="hive"
            )
        return self._pdataset

    def _fts_stats(self) -> dict:
        if self._stats is None:
            from ..plans.fts import read_fts_stats

            stats = read_fts_stats(self._postings)
            if stats is None:
                raise RuntimeError(
                    f"postings index at {self._postings} has no persisted "
                    "corpus statistics; run a bulk build/optimize() first"
                )
            self._stats = stats
        return self._stats

    # -- query -------------------------------------------------------------

    def query(
        self,
        query_text: str,
        *,
        limit: int = 10,
        scope: list[str] | None = None,
        max_distance: float | None = None,
        grouping: str | None = None,
        hybrid_weight: float = DEFAULT_HYBRID_WEIGHT,
        max_files: int | None = None,
    ) -> list[dict]:
        """Rows (filePath, chunkIndex, text, fileTitle, score, source),
        identical to ``RagEngine.query_documents(...).collect()`` under
        the same settings. The query embeds in the TABLE'S persisted
        space (_table_meta.json) — the same resolution the engine
        applies, so the query embeds where the corpus lives.

        Staleness contract (operators/staleness): the postings index is a
        MAINTAINED artifact — when its covers-stamp provably lags the
        chunks table (the state where the engine would fall back to the
        index-free scan, which a serving process cannot do) the query
        raises StaleServingError."""
        from ..plans.ingest import (
            read_table_meta,
            table_content_stamp,
            table_embedding,
        )
        from .staleness import check_covers

        backend, dim = table_embedding(self._table)
        limit = max(1, min(20, limit))
        hybrid_weight = max(0.0, min(1.0, hybrid_weight))
        # self-refresh across processes: one cheap meta read per query —
        # if the chunks table's content stamp (version stamp, or a
        # filesystem fingerprint on a legacy table) moved since the caches
        # loaded, drop every cached artifact (the vector sidecar performs
        # the same check for its matrix). A mutation landing after this
        # read leaves caches newer than their label, so the next query
        # reloads them.
        tv = table_content_stamp(self._table)
        check_covers(
            f"hybrid postings index {self._postings}",
            read_table_meta(self._postings).get("covers_table_version"),
            tv,
            False,
        )
        if tv != self._loaded_version:
            self._payload = None
            self._pdataset = None
            self._stats = None
            self._term_cache = {}
            self._loaded_version = tv
        qv = embed_query(query_text, dim, backend)
        terms = query_terms(query_text)

        # §3.1 step 4: vector candidates (k * overfetch pool, shared order)
        cands = self._vec.query(
            qv, limit * CANDIDATE_MULTIPLIER,
            scope=scope, max_distance=max_distance,
        )
        # steps 5-8: the shared driver tail — grouping on the raw
        # candidates, BM25 over the persisted postings restricted to them,
        # boost, top-N files by best chunk, final top-k
        cands = group_candidates(cands, grouping)
        kw = self._bm25(terms, {(r["filePath"], r["chunkIndex"]) for r in cands})
        out = top_rows(
            file_cut(boost_rows(cands, kw, hybrid_weight), max_files), limit
        )
        # step 9: response shaping — payload columns + raw-data source
        payload = self._load_payload()
        rows = []
        for r in out:
            text, title = payload.get((r["filePath"], r["chunkIndex"]), (None, None))
            rows.append(
                {
                    "filePath": r["filePath"],
                    "chunkIndex": r["chunkIndex"],
                    "text": text,
                    "fileTitle": title,
                    "score": r["score"],
                    "source": path_to_source(r["filePath"], self._db_path),
                }
            )
        return rows

    def _bm25(
        self, terms: list[str], candidates: set[tuple[str, int]]
    ) -> dict[tuple[str, int], float]:
        """bm25_scores over the persisted index: per-term pyarrow reads
        (term-sorted row groups prune), df from ALL matched rows (global
        term weights — candidate restriction must not change them),
        scored by ``bm25_sum``."""
        cache = self._term_cache  # local snapshot ref (see __init__)
        terms = sorted(dict.fromkeys(terms))
        if not terms or not candidates:
            return {}
        import pyarrow.dataset as ds

        if not os.path.isdir(self._postings):
            return {}
        stats = self._fts_stats()
        n, avgdl = int(stats["n"]), float(stats["avgdl"] or 0.0)
        # per-term snapshot cache: (df, {(path, idx) -> (tf, dl)}). Only
        # UNSEEN terms hit parquet; cached terms answer each query with
        # <= |candidates| dict lookups, so a serving process with a
        # stable query vocabulary converges to zero postings I/O and
        # O(terms x candidates) work per query regardless of how common
        # the terms are in the corpus.
        missing = [t for t in terms if t not in cache]
        if missing:
            cols = ["filePath", "chunkIndex", "term", "tf", "dl"]
            flt = ds.field("term").isin(missing)
            try:
                tbl = self._postings_dataset().to_table(columns=cols, filter=flt)
            except (FileNotFoundError, OSError):
                # self-heal like NeighborServer: a compaction replaced the
                # files under a cached dataset handle — re-open and retry
                self._pdataset = None
                tbl = self._postings_dataset().to_table(columns=cols, filter=flt)
            fetched = tbl.to_pandas()
            if len(cache) + len(missing) > self.MAX_CACHED_TERMS:
                # evict, but seed the replacement with THIS query's hit
                # terms — bm25_sum below reads cache[t] for every query
                # term, so dropping a term that was a hit this query
                # would score it as absent once >MAX_CACHED_TERMS distinct
                # terms accumulate and a query mixes cached + new terms
                cache = {t: cache[t] for t in terms if t in cache}
                self._term_cache = cache
            grouped = dict(tuple(fetched.groupby("term"))) if len(fetched) else {}
            for t in missing:
                g = grouped.get(t)
                if g is None:
                    cache[t] = (0, {})
                else:
                    cache[t] = (
                        # postings are unique per (path, idx, term), so
                        # row count == distinct-doc count (Spark's
                        # countDistinct over id_cols)
                        len(g),
                        {
                            (p, int(i)): (float(tf_), float(dl_))
                            for p, i, tf_, dl_ in zip(
                                g["filePath"], g["chunkIndex"], g["tf"], g["dl"]
                            )
                        },
                    )
        return bm25_sum(terms, cache, n, avgdl, candidates)
