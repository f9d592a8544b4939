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
tests/test_hybrid_serve.py). The stage-by-stage float discipline that
makes that hold:

  * vector stage — VectorSearchServer (decimal HALF_UP at 6, shared
    total order);
  * grouping stats — gap mean accumulated SEQUENTIALLY in window order
    and stddev_pop via the same Welford recurrence Spark's
    CentralMomentAgg runs (numpy pairwise summation would diverge by
    ulps and flip boundary decisions);
  * BM25 — the bm25_term_score formula verbatim (idf floored at 1.0),
    per-doc term sum in sorted-term order;
  * boost — round(score / (1 + kw_norm * weight), 6) through decimal
    HALF_UP, like every persisted score in the engine.

Maintenance contract: ``invalidate()`` after ingest/delete/optimize,
same as the other sidecars. Serving correctness requires a FRESH index
(the engine falls back to scan scoring when mutations are pending;
a serving tier swaps snapshots only after optimize()).
"""

from __future__ import annotations

import math
import os

import numpy as np

from ..embedder import embed_query
from ..plans.raw_data import path_to_source
from .bm25 import B, K1
from .search import (
    CANDIDATE_MULTIPLIER,
    DEFAULT_HYBRID_WEIGHT,
    GROUPING_STD_MULTIPLIER,
)
from .vector_serve import VectorSearchServer, _exact_round


class HybridSearchServer:
    """query_documents at serving latency over the persisted tables."""

    def __init__(self, table_path: str, postings_path: str | None = None, *,
                 term_postings_path: str | None = None,
                 db_path: str = "/data/db"):
        if postings_path is None:
            postings_path = table_path.rstrip("/") + "_fts"
        self._table = table_path
        self._postings = postings_path
        # the TERM-bucketed second copy (plans/fts.write_term_postings):
        # when present, a cold term's read computes its tbucket locally
        # (functions/spark_hash, bit-exact with the writer's F.xxhash64)
        # and PARTITION-prunes to that one directory — at a large index
        # this replaces row-group pruning across every doc bucket with
        # opening ~1/n_buckets of the index per new term
        self._term_postings = term_postings_path
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
        # the version label goes with the caches it labels — keeping it
        # would let a pinned read find a "cached" version whose payload
        # is gone and lazily re-fill it from a NEWER table state
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

    def _dataset_of(self, path: str):
        if self._pdataset is None or self._pdataset[0] != path:
            import pyarrow.dataset as ds

            self._pdataset = (
                path,
                ds.dataset(path, format="parquet", partitioning="hive"),
            )
        return self._pdataset[1]

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
        backend: str | None = None,
        dim: int | None = None,
        at_version: str | None = None,
        stale_ok: bool = False,
    ) -> list[dict]:
        """Rows (filePath, chunkIndex, text, fileTitle, score, source),
        identical to ``RagEngine.query_documents(...).collect()`` under
        the same settings. The embedding space defaults to the TABLE'S
        persisted space (_table_meta.json) — the same resolution the
        engine applies, so the query embeds where the corpus lives.

        Staleness contract (operators/staleness): the postings index is a
        MAINTAINED artifact — when its covers-stamp provably lags the
        chunks table (the state where the engine would fall back to the
        index-free scan, which a serving process cannot do) the query
        raises StaleServingError unless ``stale_ok=True`` serves the
        postings as-of their own stamp. ``at_version`` pins the whole
        read (vector matrix + payload + term cache) to one table content
        stamp for cross-query consistency."""
        import re

        from ..plans.ingest import table_embedding

        meta_backend, meta_dim = table_embedding(self._table)
        backend = backend if backend is not None else meta_backend
        dim = dim if dim is not None else meta_dim
        limit = max(1, min(20, limit))
        hybrid_weight = max(0.0, min(1.0, hybrid_weight))
        # self-refresh across processes: one cheap meta read per query —
        # if the chunks table's content version moved since this snapshot
        # loaded, drop every cached artifact (the vector sidecar performs
        # the same check for its matrix)
        from ..plans.ingest import read_table_meta, table_content_stamp

        # version stamp when the table carries one, filesystem fingerprint
        # otherwise — a legacy table can neither pin a stale snapshot
        # (None == None) nor pay an always-reload per query
        tv = table_content_stamp(self._table)
        pinned_cache = False
        if at_version is not None:
            from .staleness import check_pin

            pinned_cache = (
                check_pin(
                    "hybrid serving snapshot",
                    at_version,
                    tv,
                    self._loaded_version,
                )
                == "cached"
            )
        from .staleness import check_covers

        # against the PIN when one is set: postings covering the pinned
        # version are exactly consistent with a pinned-cache read
        check_covers(
            f"hybrid postings index {self._postings}",
            read_table_meta(self._postings).get("covers_table_version"),
            at_version if at_version is not None else tv,
            stale_ok,
        )
        if tv != self._loaded_version and not pinned_cache:
            self._payload = None
            self._pdataset = None
            self._stats = None
            self._term_cache = {}
            self._loaded_version = tv
        # whether this query can touch the chunks table lazily: a warm
        # payload means steps 6-9 read only resident caches (+ the vector
        # snap, which carries its own stamp-stability protection), so a
        # stamp moving mid-query cannot contaminate anything
        payload_was_warm = self._payload is not None
        if pinned_cache and not payload_was_warm and str(tv) != str(at_version):
            # belt-and-braces: the label matches the pin but its payload
            # cache is gone (a crash mid-query can leave that state) and
            # the table has moved — re-filling would read CURRENT rows
            # into a cache labeled with the pin
            from .staleness import StaleServingError

            raise StaleServingError(
                f"hybrid serving snapshot: pinned version {at_version!r} "
                "is labeled resident but its payload cache is gone and "
                f"the table moved on (now {tv!r}); re-pin to a reachable "
                "stamp"
            )
        qv = embed_query(query_text, dim, backend)
        terms = [t for t in re.split(r"[^a-z0-9]+", query_text.lower()) if t]

        # §3.1 step 4: vector candidates (k * overfetch pool, shared order)
        cands = self._vec.query(
            qv, limit * CANDIDATE_MULTIPLIER,
            scope=scope, max_distance=max_distance,
            at_version=at_version,
        )
        # step 5: relevance-gap grouping on the raw candidate set
        cands = _grouping_filter(cands, grouping)
        # step 6: BM25 over the persisted postings, restricted to candidates
        kw = self._bm25(terms, {(r["filePath"], r["chunkIndex"]) for r in cands})
        # step 7: boost = distance / (1 + kw_norm * weight)
        mx = max(kw.values(), default=0.0)
        boosted = []
        for r in cands:
            kw_norm = (kw.get((r["filePath"], r["chunkIndex"]), 0.0) / mx) if mx > 0 else 0.0
            boosted.append(
                {
                    **r,
                    "score": _exact_round(r["score"] / (1.0 + kw_norm * hybrid_weight)),
                }
            )
        # step 8: top-N files by best chunk, then final top-k
        if max_files is not None:
            best: dict[str, float] = {}
            for r in boosted:
                s = best.get(r["filePath"])
                best[r["filePath"]] = r["score"] if s is None else min(s, r["score"])
            keep = {
                p
                for p, _ in sorted(best.items(), key=lambda kv: (kv[1], kv[0]))[
                    :max_files
                ]
            }
            boosted = [r for r in boosted if r["filePath"] in keep]
        boosted.sort(key=lambda r: (r["score"], r["filePath"], r["chunkIndex"]))
        out = boosted[:limit]
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
        # stamp re-check, ONLY for queries that lazy-loaded the payload:
        # a mutation landing mid-load can fill the cache with newer rows
        # than the _loaded_version label claims — a later at_version pin
        # would then serve that contaminated cache forever as "the pinned
        # snapshot". If the stamp moved under a lazy load, drop every
        # cache (nothing mislabeled survives; next query reloads) and
        # fail a PINNED read instead of lying. A warm-cache read touched
        # nothing newer, so pinned batches keep serving their snapshot
        # while ingests land — the advertised contract.
        if not payload_was_warm and table_content_stamp(self._table) != tv:
            self._payload = None
            self._pdataset = None
            self._stats = None
            self._term_cache = {}
            self._loaded_version = None
            self._vec.invalidate()
            if at_version is not None:
                from .staleness import StaleServingError

                raise StaleServingError(
                    f"hybrid serving snapshot: the table moved past pinned "
                    f"version {at_version!r} during the read; re-pin to the "
                    "new stamp"
                )
        return rows

    def _bm25(
        self, terms: list[str], candidates: set[tuple[str, int]]
    ) -> dict[tuple[str, int], float]:
        cache = self._term_cache  # local snapshot ref (see __init__)
        """bm25_scores over the persisted index: per-term pyarrow reads
        (term-sorted row groups prune), df from ALL matched rows (global
        term weights — candidate restriction must not change them),
        scoring summed per doc in sorted-term order."""
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
            if self._term_postings is not None and os.path.isdir(self._term_postings):
                from ..functions.spark_hash import bucket_of
                from ..plans.ingest import table_n_buckets

                nb = table_n_buckets(self._term_postings)
                buckets = sorted({bucket_of(t, nb) for t in missing})
                flt = flt & ds.field("tbucket").isin(buckets)
                src_path = self._term_postings
            else:
                src_path = self._postings
            try:
                tbl = self._dataset_of(src_path).to_table(columns=cols, filter=flt)
            except (FileNotFoundError, OSError):
                # self-heal like NeighborServer: a compaction replaced the
                # files under a cached dataset handle — re-open and retry
                self._pdataset = None
                tbl = self._dataset_of(src_path).to_table(columns=cols, filter=flt)
            fetched = tbl.to_pandas()
            if len(cache) + len(missing) > self.MAX_CACHED_TERMS:
                # evict, but seed the replacement with THIS query's hit
                # terms — the scoring loop below reads cache[t] for every
                # query term, so dropping a term that was a hit this
                # query would KeyError once >MAX_CACHED_TERMS distinct
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
        # score candidates term by term in sorted-term order (the
        # documented per-doc sum order)
        scores: dict[tuple[str, int], float] = {}
        for t in terms:
            df_count, rows = cache[t]
            if df_count == 0:
                continue
            idf = math.log(max(1.0, 1.0 + (n - df_count + 0.5) / (df_count + 0.5)))
            for key in candidates:
                hit = rows.get(key)
                if hit is None:
                    continue
                tf_, dl_ = hit
                s = idf * (tf_ * (K1 + 1)) / (
                    tf_ + K1 * (1 - B + B * dl_ / avgdl)
                )
                scores[key] = scores.get(key, 0.0) + s
        return scores


def _grouping_filter(cands: list[dict], mode: str | None) -> list[dict]:
    """operators/search.grouping_filter re-expressed over the in-memory
    candidate list, with Spark's exact float behavior: sequential mean in
    window order and the Welford/CentralMomentAgg stddev_pop recurrence."""
    if mode is None or len(cands) == 0:
        return cands
    cuts = {"similar": 1, "related": 2}[mode]
    # cands arrive already in (score, filePath, chunkIndex) order
    gaps = [
        cands[i + 1]["score"] - cands[i]["score"] for i in range(len(cands) - 1)
    ]
    if not gaps:
        return cands
    # TWO distinct float recurrences, matching Spark's two aggregates:
    # F.mean is Average = sequential sum / count, while F.stddev_pop is
    # CentralMomentAgg's Welford recurrence (n += 1; delta = x - mean;
    # mean += delta / n; m2 += delta * (x - mean)) whose internal mean is
    # NOT the Average — conflating them drifts by ulps and can flip a
    # boundary decision.
    total = 0.0
    cnt, wmean, m2 = 0.0, 0.0, 0.0
    for g in gaps:
        total += g
        cnt += 1.0
        delta = g - wmean
        wmean += delta / cnt
        m2 += delta * (g - wmean)
    mean = total / cnt
    std = math.sqrt(m2 / cnt)
    threshold = mean + GROUPING_STD_MULTIPLIER * std
    kept = []
    boundaries = 0
    for i, r in enumerate(cands):
        if boundaries >= cuts:
            break
        kept.append(r)
        if i < len(gaps) and gaps[i] > threshold:
            boundaries += 1
    return kept
