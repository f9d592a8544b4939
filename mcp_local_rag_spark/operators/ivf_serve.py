"""IVF serving sidecar — the SCALE PATH of the serving tier.

VectorSearchServer (operators/vector_serve) answers in ~0.2 ms by holding
the whole corpus matrix in one process — the right trade at the
reference's scale, impossible at 100 TB. This server holds only the
COARSE QUANTIZER (the n_cells x dim centroid sidecar plans/ann_index
writes at build time) and reads, per query, exactly the probed cells'
parquet directories through pyarrow partition pruning over the
cell-partitioned index layout. Per-query I/O is therefore
nprobe/n_cells of the corpus regardless of corpus size; a bounded LRU of
decoded cells turns repeat traffic on hot cells into pure in-memory
scoring.

Ranking matches operators/similarity.cosine_knn exactly — the shared
total order (round(cos, 6) desc, neighbor_id asc) — so the serving path
is row-identical to the Spark operator over the same probed cells
(parity-pinned in tests/test_ivf_serve.py).

The reference has no ANN tier at all (flat scan over LanceDB,
src/vectordb/index.ts:346); this is part of the pipeline-scale extension
surface, same family as plans/ann_index's partition-pruned Spark path.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np

from ..plans.ann_index import read_index_meta
from .pq import PQ_CODES_DIR


class IvfVectorServer:
    """Partition-pruned vector serving over a plans/ann_index layout.

    Concurrency contract: one server instance serves one request at a
    time (the cell LRU mutates per query). Concurrent callers take one
    instance each — cells are immutable parquet, so instances share the
    page cache even though they don't share the decoded LRU. This is the
    same single-consumer posture as the other sidecars' snapshot swap.
    """

    def __init__(
        self,
        index_path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        max_cached_cells: int = 64,
        quantized: bool = False,
        quantization: str | None = None,
        payload_cols: tuple[str, ...] = (),
    ):
        self._path = index_path
        self._id_col = id_col
        self._vec_col = vec_col
        _meta = read_index_meta(index_path)
        self._cell_col = _meta["cell_col"]
        # build-time provenance, fixed for the index's lifetime: only a
        # 'chunks:<table>' source carries a staleness proof, and caching
        # it here keeps the common (provenance-free) query path at zero
        # extra file reads
        self._source = str(_meta.get("source") or "")
        self.max_cached_cells = max_cached_cells
        # Resident-cache quantization ladder (exact float64 is default):
        # * "int8" (alias quantized=True): per-dimension symmetric scalar
        #   quantization — 8x smaller, scoring is a dequantized matvec,
        #   recall@10 >= 0.95 pytest-pinned.
        # * "pq": residual product quantization (operators/pq, IVFADC) —
        #   (n, m) uint8 codes of x - centroid(cell), ~dim*8/m x smaller
        #   (64x at dim=64, m=8); scoring is ADC (one (m, k) table per
        #   query + m lookups per row) plus the exact per-cell centroid
        #   dot, then query()'s default refine step exact-rescores a
        #   refine*k shortlist via one bounded point-read. The 1B-vector
        #   posture: needs the _pq_codebooks.parquet sidecar
        #   (pq.train_pq_for_index, O(1) build cost in corpus size).
        # Norms stay exact per row in every mode — only dots approximate.
        if quantization is None and quantized:
            quantization = "int8"
        if quantization not in (None, "int8", "pq"):
            raise ValueError(f"unknown quantization {quantization!r}")
        self.quantization = quantization
        self.quantized = quantization == "int8"
        self._pq_books = None
        if quantization == "pq":
            from .pq import read_pq_sidecar

            try:
                self._pq_books = read_pq_sidecar(index_path)
            except FileNotFoundError as e:
                raise FileNotFoundError(
                    "PQ sidecar missing — run pq.train_pq_for_index(index_path)"
                    " after the index build"
                ) from e
        # extra columns carried through to result rows (e.g. the chunks
        # table's filePath/chunkIndex when serving the RAG corpus by its
        # uuid id) — read with the cell, never re-joined per query
        self.payload_cols = tuple(payload_cols)
        # cell -> (ids, matrix, norms, scale, payloads); OrderedDict as LRU
        self._cells: OrderedDict[int, tuple] = OrderedDict()
        self._dataset = None
        self._codes_dataset = None
        self.cell_loads = 0  # observability: parquet cell reads performed
        self.refine_reads = 0  # observability: PQ shortlist point-reads
        self.code_loads = 0  # observability: persisted-codes cell reads
        from .pq import read_cell_centroids

        self._cent_cells, self._cent_mat = read_cell_centroids(index_path)
        self._cent_norms = np.linalg.norm(self._cent_mat, axis=1)

    def invalidate(self) -> None:
        """Drop decoded cells + the dataset handles (after index rebuild)."""
        self._cells.clear()
        self._dataset = None
        self._codes_dataset = None

    # -- probing ----------------------------------------------------------

    def probe_cells(self, query_vec, nprobe: int = 2) -> list[int]:
        """The nprobe nearest coarse cells, ranked on the SAME total order
        as result rows (round(cos, 6) desc, cell asc) so probe choice is
        deterministic and engine-stable."""
        q = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.linalg.norm(q))
        denom = self._cent_norms * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (self._cent_mat @ q) / denom, 0.0)
        cos = np.round(cos, 6)
        order = np.lexsort((self._cent_cells, -cos))
        return [int(c) for c in self._cent_cells[order[: max(1, nprobe)]]]

    # -- cell IO ----------------------------------------------------------

    def _dataset_of(self):
        if self._dataset is None:
            import pyarrow.dataset as ds

            self._dataset = ds.dataset(
                self._path, format="parquet", partitioning="hive"
            )
        return self._dataset

    def probed_fragment_paths(self, cells: list[int]) -> list[str]:
        """The parquet files a probe of ``cells`` touches — the pruning
        evidence (every path sits under a probed cell=N directory)."""
        import pyarrow.dataset as ds

        flt = ds.field(self._cell_col).isin([int(c) for c in cells])
        return [f.path for f in self._dataset_of().get_fragments(filter=flt)]

    def _centroid_of(self, cell: int):
        """The coarse centroid of ``cell`` (None if unknown — can't
        happen on a consistent index)."""
        pos = int(np.searchsorted(self._cent_cells, cell))
        if pos < len(self._cent_cells) and self._cent_cells[pos] == cell:
            return self._cent_mat[pos]
        return None

    def _cache_put(self, cell: int, entry: tuple) -> tuple:
        self._cells[cell] = entry
        while len(self._cells) > self.max_cached_cells:
            self._cells.popitem(last=False)
        return entry

    def _load_codes(self, cell: int):
        """(ids, (n, m) uint8 codes, norms) from the persisted codes
        sidecar, or None when it's absent. With it, a cold PQ cell load
        reads m bytes/row instead of dim*8 and skips the encode. The
        decode is one buffer reshape — every pq_code is exactly m bytes,
        so the arrow binary column's value buffer IS the code matrix."""
        import pyarrow.dataset as ds

        if not os.path.isdir(os.path.join(self._path, PQ_CODES_DIR)):
            return None
        if self._codes_dataset is None:
            self._codes_dataset = ds.dataset(
                os.path.join(self._path, PQ_CODES_DIR),
                format="parquet",
                partitioning="hive",
            )
        tbl = self._codes_dataset.to_table(
            columns=[self._id_col, "pq_code", "pq_norm"],
            filter=ds.field(self._cell_col) == int(cell),
        )
        # per-cell freshness: an incremental append_to_ivf_index leaves
        # the codes sidecar stale for the appended cells — serving codes
        # there would silently DROP the appended vectors. Footer row
        # counts (metadata-only) detect it; a stale cell falls back to
        # the on-the-fly encode path until codes are rebuilt.
        main_rows = self._dataset_of().count_rows(
            filter=ds.field(self._cell_col) == int(cell)
        )
        if len(tbl) != main_rows:
            return None
        self.code_loads += 1
        m = self._pq_books.shape[0]
        n = len(tbl)
        ids = tbl[self._id_col].to_numpy(zero_copy_only=False)
        norms = tbl["pq_norm"].to_numpy(zero_copy_only=False)
        if not n:
            return ids, np.zeros((0, m), dtype=np.uint8), np.zeros(0)
        bin_arr = tbl["pq_code"].combine_chunks()
        buf = bin_arr.buffers()[2]
        flat = (
            np.frombuffer(buf, dtype=np.uint8)
            if buf is not None
            else np.zeros(0, dtype=np.uint8)
        )
        if len(flat) == n * m:
            codes = flat.reshape(n, m).copy()
        else:  # defensive: non-contiguous values (shouldn't happen)
            codes = np.stack(
                [np.frombuffer(b, dtype=np.uint8, count=m)
                 for b in bin_arr.to_pylist()]
            ) if n else np.zeros((0, m), dtype=np.uint8)
        return ids, codes, np.asarray(norms, dtype=np.float64)

    def _load_cell(self, cell: int) -> tuple:
        hit = self._cells.get(cell)
        if hit is not None:
            self._cells.move_to_end(cell)
            return hit
        import pyarrow.dataset as ds

        coded = self._load_codes(cell) if self.quantization == "pq" else None
        if coded is not None and not self.payload_cols:
            # the common serving shape: cold load touches ONLY the codes
            # sidecar — zero main-table I/O
            cids, codes, norms = coded
            return self._cache_put(
                cell, (cids, codes, norms, ("pq", self._centroid_of(int(cell))), {})
            )
        read_cols = (
            [self._id_col, *self.payload_cols]
            if coded is not None
            else [self._id_col, self._vec_col, *self.payload_cols]
        )
        tbl = self._dataset_of().to_table(
            columns=read_cols,
            filter=ds.field(self._cell_col) == int(cell),
        )
        self.cell_loads += 1
        ids = tbl[self._id_col].to_numpy(zero_copy_only=False)
        n = len(tbl)
        if n and coded is None:
            flat = tbl[self._vec_col].combine_chunks().flatten().to_numpy(
                zero_copy_only=False
            )
            mat = np.asarray(flat, dtype=np.float64).reshape(n, -1)
        else:
            mat = np.zeros((0, 1), dtype=np.float64)
        payloads = {
            c: tbl[c].to_pylist() for c in self.payload_cols
        }
        if self.quantization == "pq" and n:
            from .pq import encode_pq, residualize

            # residual PQ (IVFADC): codes quantize x - centroid(cell);
            # the exact centroid rides in the scale slot so query() can
            # reconstruct dot(x,q) = dot(centroid,q) + ADC(residual)
            if coded is not None:
                # persisted codes + payload read: align the codes rows
                # to the main read's id order (vectorized for numeric
                # ids; bounded dict pass for string ids)
                cids, ccodes, cnorms = coded
                if ids.dtype == object:
                    pos = {v: k for k, v in enumerate(cids.tolist())}
                    order = np.fromiter(
                        (pos[i] for i in ids.tolist()), dtype=np.int64, count=n
                    )
                else:
                    s = np.argsort(cids)
                    order = s[np.searchsorted(cids[s], ids)]
                codes = ccodes[order]
                norms = cnorms[order]
                cent = self._centroid_of(int(cell))
            else:
                resid, cent = residualize(
                    mat, int(cell), self._cent_cells, self._cent_mat
                )
                codes = encode_pq(resid, self._pq_books)
                norms = np.linalg.norm(mat, axis=1)
            entry = (ids, codes, norms, ("pq", cent), payloads)
        elif self.quantization == "int8" and n:
            # symmetric per-dimension scale: q = round(x / scale_d),
            # scale_d = max|x_d| / 127. Norms kept exact (float64 vector
            # per row — dim-independent, negligible next to the matrix).
            scale = np.abs(mat).max(axis=0) / 127.0
            scale[scale == 0.0] = 1.0
            qmat = np.clip(np.round(mat / scale), -127, 127).astype(np.int8)
            entry = (ids, qmat, np.linalg.norm(mat, axis=1), scale, payloads)
        else:
            entry = (ids, mat, np.linalg.norm(mat, axis=1), None, payloads)
        return self._cache_put(cell, entry)

    def _exact_cosines(self, cells: list[int], want_ids, q, qn) -> dict:
        """Exact rounded cosines for specific ids — one column-pruned
        parquet read, partition-pruned to the probed cells with an id-list
        pushdown. Result is NOT cached: resident memory stays codes."""
        import pyarrow.dataset as ds

        flt = ds.field(self._cell_col).isin(
            [int(c) for c in cells]
        ) & ds.field(self._id_col).isin(list(want_ids))
        tbl = self._dataset_of().to_table(
            columns=[self._id_col, self._vec_col], filter=flt
        )
        self.refine_reads += 1
        n = len(tbl)
        if not n:
            return {}
        rid = tbl[self._id_col].to_numpy(zero_copy_only=False)
        flat = tbl[self._vec_col].combine_chunks().flatten().to_numpy(
            zero_copy_only=False
        )
        mat = np.asarray(flat, dtype=np.float64).reshape(n, -1)
        denom = np.linalg.norm(mat, axis=1) * qn
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = np.where(denom > 0, (mat @ q) / denom, 0.0)
        cos = np.round(cos, 6)
        return {i: float(c) for i, c in zip(rid.tolist(), cos)}

    def cached_bytes(self) -> int:
        """Resident bytes of the decoded cell matrices (the quantization
        target; ids/norms are O(rows), not O(rows x dim))."""
        return sum(e[1].nbytes for e in self._cells.values())

    # -- query ------------------------------------------------------------

    def query(
        self,
        query_vec,
        k: int = 10,
        *,
        nprobe: int = 2,
        cells: list[int] | None = None,
        exclude_id=None,
        refine: int = 8,
    ) -> list[dict]:
        """Top-k rows from the probed cells as
        [{neighbor_id, cos, cell}] — cosine rounded to 6, ties on
        neighbor_id asc (the cosine_knn contract). ``cells`` overrides the
        centroid probe (callers that already know their cells — e.g. the
        oracle-paired query shape — skip the quantizer).

        ``refine`` (PQ mode only): ADC ranks a shortlist of refine*k
        candidates, then ONE column-pruned, partition-pruned parquet
        point-read fetches their exact vectors and the final top-k is
        exact-rescored — recall returns to ~1.0 while resident memory
        stays uint8 codes and per-query exact I/O is O(refine*k) rows,
        corpus-size-independent (the Faiss IVFPQ+refine posture).
        refine=0 is pure ADC (no read, lower recall).

        Staleness contract (operators/staleness): when the index records
        the chunks table it was built from (meta source 'chunks:<path>')
        and a covers-stamp, a query against a table that has moved on
        raises StaleServingError (the engine's ann_index_is_fresh is the
        same check); indexes built outside the engine (no source/stamp)
        carry no proof and serve unchecked."""
        if self._source.startswith("chunks:"):
            table = self._source[len("chunks:"):]
            if os.path.isdir(table):
                from ..plans.ingest import read_table_meta, table_content_stamp
                from .staleness import check_covers

                check_covers(
                    f"ivf index {self._path}",
                    read_table_meta(self._path).get("covers_table_version"),
                    table_content_stamp(table),
                    False,
                )
        q = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.linalg.norm(q))
        probe = cells if cells is not None else self.probe_cells(q, nprobe)
        adc_table = None
        if self.quantization == "pq":
            from .pq import adc_dot_table

            # ONE (m, k) partial-dot table per query; every stored row's
            # approximate dot is then m uint8-indexed lookups
            adc_table = adc_dot_table(q, self._pq_books)
        out_ids, out_cos, out_cell, out_rows = [], [], [], []
        for cell in probe:
            ids, mat, norms, scale, payloads = self._load_cell(cell)
            if not len(ids):
                continue
            denom = norms * qn
            if isinstance(scale, tuple) and scale[0] == "pq":
                from .pq import adc_dots

                # exact centroid dot (one scalar per probed cell) + ADC
                # over the residual codes
                cent = scale[1]
                dots = adc_dots(mat, adc_table)
                if cent is not None:
                    dots = dots + float(cent @ q)
            elif scale is not None:
                # dequantized dot: fold the per-dim scale into the QUERY
                # once (qs = scale * q), then one matvec against the int8
                # matrix — dot(x, q) ~= sum q8[i,d] * qs[d]. The RESIDENT
                # cache stays int8 (8x smaller); the matvec upcasts
                # per-block, norms stay exact, so the only approximation
                # is the <=1/254-per-dim rounding of the stored values
                dots = mat @ (scale * q)
            else:
                dots = mat @ q
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(denom > 0, dots / denom, 0.0)
            out_ids.append(ids)
            out_cos.append(np.round(cos, 6))
            out_cell.append(np.full(len(ids), cell, dtype=np.int64))
            out_rows.append(payloads)
        if not out_ids:
            return []
        ids = np.concatenate(out_ids)
        cos = np.concatenate(out_cos)
        cel = np.concatenate(out_cell)
        pay: dict[str, list] = {
            c: [v for p in out_rows for v in p[c]] for c in self.payload_cols
        }
        if exclude_id is not None:
            keep = ids != exclude_id
            kept_idx = np.nonzero(keep)[0]
            ids, cos, cel = ids[keep], cos[keep], cel[keep]
            pay = {c: [vs[i] for i in kept_idx] for c, vs in pay.items()}
        def _order(limit):
            if ids.dtype == object:
                # string ids (e.g. the chunks table's uuid): numpy lexsort
                # doesn't take object keys — the cells are bounded, a
                # python sort preserves the same total order
                return sorted(
                    range(len(ids)), key=lambda i: (-cos[i], ids[i])
                )[:limit]
            return list(np.lexsort((ids, -cos))[:limit])

        if self.quantization == "pq" and refine:
            shortlist = _order(max(1, int(refine)) * k)
            exact = self._exact_cosines(
                probe, [ids[i] for i in shortlist], q, qn
            )
            for i in shortlist:
                if ids[i] in exact:
                    cos[i] = exact[ids[i]]
            order = sorted(shortlist, key=lambda i: (-cos[i], ids[i]))[:k]
        else:
            order = _order(k)

        def _py(v):
            return v.item() if hasattr(v, "item") else v

        return [
            {
                "neighbor_id": _py(ids[i]),
                "cos": float(cos[i]),
                "cell": int(cel[i]),
                **{c: pay[c][i] for c in self.payload_cols},
            }
            for i in order
        ]
