"""Serving-path vector search over the Spark-written chunks layout — the
query-side twin of operators/neighbors.NeighborServer.

BASELINE.json's architecture split ("batch index build via DataFrame ops,
serving requires external system") gives neighbor point-reads a pyarrow
sidecar; this module extends the same seam to the vector stage of search:
the corpus vector matrix is loaded ONCE from the bucketed parquet table
into a numpy matrix (float32 vectors, ~256 B/row at dim 64 — a 10M-chunk
shard fits in ~2.5 GB, the per-shard sizing a serving tier would use;
at 100 TB the corpus shards across servers by the same bucket hash the
table is already partitioned by, or the matrix is replaced by the IVF
cells of plans/ann_index), and each query is one matmul + partial
top-k — microseconds-to-milliseconds, no Spark job submission.

Results are ROW-IDENTICAL to ``operators.search.vector_topk`` truncated
to k: same distance (1 - dot), same rounding (decimal HALF_UP at 6, the
BigDecimal semantics Spark's F.round applies — verified by re-rounding
the candidate frontier through ``decimal`` rather than trusting
float-arithmetic rounding at the boundary), same (score, filePath,
chunkIndex) total order, same scope (exact-or-descendant) and
max-distance semantics. Parity is pinned by tests/test_vector_serve.py.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np

SCORE_DECIMALS = 6
_Q = Decimal(1).scaleb(-SCORE_DECIMALS)


def _exact_round(x: float) -> float:
    """Spark F.round semantics on a double: BigDecimal(HALF_UP) over the
    shortest round-trip decimal representation (Double.toString ==
    Python repr for finite doubles)."""
    return float(Decimal(repr(x)).quantize(_Q, rounding=ROUND_HALF_UP))


class VectorSearchServer:
    """One-time corpus load + per-query numpy top-k, matching
    ``vector_topk``'s ranking exactly.

    ``invalidate()`` after ingest/delete/compact, like NeighborServer —
    the matrix is a read-optimized snapshot of the table, not a cache
    that tracks it.
    """

    def __init__(self, table_path: str):
        self._path = table_path
        # ONE snapshot attribute, swapped atomically: invalidate() from a
        # background maintenance thread must never leave a concurrent
        # query() holding half-cleared state (queries take a local ref
        # and never re-read self after that)
        self._snap: tuple | None = None

    def invalidate(self) -> None:
        self._snap = None

    def _load(self) -> tuple:
        from ..plans.ingest import table_content_stamp as table_version

        snap = self._snap
        # self-refresh: the chunks table stamps a content version on every
        # mutation (plans/ingest.bump_table_version) — a cheap sidecar meta
        # read per query detects cross-PROCESS mutations that in-process
        # invalidate() hooks cannot see. Legacy tables without version
        # stamps get a filesystem fingerprint instead (table_content_stamp),
        # so None == None can never keep a stale snapshot — and an
        # unversioned table still serves warm (reloads only when the files
        # actually changed)
        current = table_version(self._path)
        if snap is not None and snap[4] is not None and snap[4] == current:
            return snap[:4]
        import pyarrow.dataset as ds

        # the snapshot is labeled with the stamp read BEFORE the data: a
        # mutation landing mid-read leaves data at least as new as the
        # label, and the next query sees the stamp moved and reloads
        tbl = ds.dataset(self._path, format="parquet").to_table(
            columns=["filePath", "chunkIndex", "vector"]
        )
        vec = tbl["vector"].combine_chunks()
        n = len(tbl)
        if n == 0:
            snap = (
                np.zeros((0, 1), dtype=np.float64),
                np.array([], dtype=object),
                np.array([], dtype=np.int64),
                np.array([], dtype=np.int64),
                current,
            )
        else:
            flat = vec.flatten().to_numpy(zero_copy_only=False)
            mat = np.asarray(flat, dtype=np.float64).reshape(n, -1)
            paths = np.asarray(tbl["filePath"].to_pylist(), dtype=object)
            idx = tbl["chunkIndex"].to_numpy(zero_copy_only=False).astype(np.int64)
            # the tie-break order (filePath asc, chunkIndex asc) is fixed
            # per snapshot — precompute each row's rank in it once so
            # per-query ordering works on ints, not strings
            order = np.lexsort((idx, paths)).argsort()
            snap = (mat, paths, idx, order, current)
        self._snap = snap
        return snap[:4]

    def query(
        self,
        query_vec,
        k: int = 10,
        *,
        scope: list[str] | None = None,
        max_distance: float | None = None,
    ) -> list[dict]:
        """Top-k rows as dicts (filePath, chunkIndex, score), the exact
        first-k prefix of ``vector_topk``'s (score, filePath, chunkIndex)
        order under the same scope / max-distance filters, over the
        table's current content."""
        mat, paths, idx, tiebreak = self._load()
        n = len(idx)
        if n == 0 or k <= 0:
            return []
        q = np.asarray(query_vec, dtype=np.float64)
        raw = 1.0 - mat @ q
        mask = np.ones(n, dtype=bool)
        if scope:
            mask &= _scope_mask(paths, scope)
        if max_distance is not None:
            # one rounding-quantum slack; the exact post-rounding filter
            # runs on the decimal-rounded frontier below
            mask &= raw <= max_distance + 10.0**-SCORE_DECIMALS
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return []
        # partial selection on vectorized half-up rounding, widened by one
        # quantum so no row that could EXACT-round into the top-k is
        # dropped; ties beyond 4096 rows are cut by the same total order
        approx = np.floor(raw * 10.0**SCORE_DECIMALS + 0.5) / 10.0**SCORE_DECIMALS
        kk = min(k, cand.size)
        cutoff = np.partition(approx[cand], kk - 1)[kk - 1]
        sel = cand[approx[cand] <= cutoff + 10.0**-SCORE_DECIMALS]
        if sel.size > 4096:
            sel = sel[np.lexsort((tiebreak[sel], approx[sel]))[:4096]]
        # exact decimal rounding on the (small) frontier, then the shared
        # total order (score, filePath, chunkIndex) via the precomputed
        # tie-break ranks
        scores = np.array([_exact_round(s) for s in raw[sel]])
        if max_distance is not None:
            keep = scores <= max_distance
            sel, scores = sel[keep], scores[keep]
        order = np.lexsort((tiebreak[sel], scores))[:k]
        return [
            {
                "filePath": str(paths[i]),
                "chunkIndex": int(idx[i]),
                "score": float(s),
            }
            for i, s in zip(sel[order], scores[order])
        ]


def _scope_mask(paths: np.ndarray, prefixes: list[str]) -> np.ndarray:
    """functions/paths.scope_predicate re-expressed over a numpy string
    array: exact-or-descendant with separator boundary; root scope
    matches every absolute path."""
    mask = np.zeros(len(paths), dtype=bool)
    ps = paths.astype(str)
    for p in prefixes:
        p = p.rstrip("/") or "/"
        if p == "/":
            mask |= np.char.startswith(ps, "/")
        else:
            mask |= (ps == p) | np.char.startswith(ps, p + "/")
    return mask
