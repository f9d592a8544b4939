"""Neighbor-frame read (reference W5, src/vectordb/index.ts:138-164 and
src/server/index.ts:1034-1039): chunks of one document with
chunkIndex in [target-before, target+after], clamped at 0, sorted ascending.

With the chunks table partitioned by filePath hash bucket (plans/ingest.py)
this is a single-partition pruned scan — the Spark analogue of the
reference's <100 ms P95 neighbor lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.paths import sql_str_lit

DEFAULT_BEFORE = 2  # reference src/server/tool-input.ts:186-213
DEFAULT_AFTER = 2
MAX_SPAN = 50

# Codegen-shape quantum for the pushed chunkIndex range (see read_neighbors):
# the int literals of the coarse BETWEEN are rounded to this block, so a
# document produces at most ceil(n_chunks / block) distinct generated-code
# shapes instead of one per (lo, hi). 64k rows is a small fraction of one
# parquet row group here, so the coarse filter still prunes row groups on
# tables whose documents span several.
_INDEX_BLOCK = 65536
_INT_MAX = 2_147_483_647  # chunkIndex is a 32-bit int (plans/ingest)


def read_neighbors(
    chunks: DataFrame,
    file_path: str,
    target: int,
    *,
    before: int = DEFAULT_BEFORE,
    after: int = DEFAULT_AFTER,
    n_buckets: int | None = None,
) -> DataFrame:
    before = min(max(before, 0), MAX_SPAN)
    after = min(max(after, 0), MAX_SPAN)
    lo = max(target - before, 0)
    hi = target + after
    if hi < lo:
        # negative target (e.g. -5 with after=2): the frame is empty. The
        # MCP server validates chunkIndex>=0 upstream, but the CLI and
        # direct engine calls do not — and limit(hi-lo+1) with a negative
        # argument raises INVALID_LIMIT_LIKE_EXPRESSION instead of
        # returning the empty frame this contract means.
        return chunks.where(F.lit(False)).orderBy("chunkIndex")
    # this is the package's one LATENCY-SLO plan (<100 ms P95 cold), so the
    # predicate is built to minimize per-query DRIVER work — profiled r14:
    # planning, not the one-task scan, is ~70% of a cold read.
    #   * the bucket is computed driver-side via the local xxHash64 mirror
    #     (bit-exact with F.xxhash64, property-tested) instead of a
    #     pmod(xxhash64(lit)) expression tree Catalyst must constant-fold
    #     per query;
    #   * the integer conjuncts arrive as ONE parsed expression rather
    #     than a py4j call per operator node. The filePath equality stays
    #     a Column (never string-spliced — paths may contain quotes or
    #     backslashes that SQL literal parsing would mangle).
    # Measured together: ~175 ms -> ~95 ms per cold read on the bench box.
    #
    # r16: the EXACT (lo, hi) bounds are compared as zero-padded strings,
    # not int literals. Int literals are inlined into the generated Java
    # source, so every first-sight (lo, hi) paid a fresh Janino compile
    # (~25-40 ms — the dominant first-sight-only cost of a cold read);
    # string literals land in the codegen ``references`` array, making
    # the generated source byte-identical across positions — one compile
    # per document, then every position is a codegen-cache hit. A coarse
    # BETWEEN with block-rounded int literals (at most one shape per
    # _INDEX_BLOCK chunks) stays in the plan so parquet row-group pruning
    # on chunkIndex min/max still applies at scale; zero-padding makes
    # string order equal numeric order for 0 <= chunkIndex <= _INT_MAX,
    # and the coarse bound pins chunkIndex >= 0.
    lo_c, hi_c = min(lo, _INT_MAX), min(hi, _INT_MAX)
    blo = (lo_c // _INDEX_BLOCK) * _INDEX_BLOCK
    bhi = min((hi_c // _INDEX_BLOCK + 1) * _INDEX_BLOCK - 1, _INT_MAX)
    exact = (
        f"chunkIndex BETWEEN {blo} AND {bhi} AND "
        f"lpad(cast(chunkIndex AS string), 10, '0') "
        f"BETWEEN '{lo_c:010d}' AND '{hi_c:010d}'"
    )
    # r16: the whole predicate arrives as ONE parsed expression. The
    # filePath equality used to be a Column chain (F.col == F.lit, then &)
    # — 4 extra synchronous py4j round trips per read, ~35% of a cold
    # read's driver-side construction time. The path is spliced into the
    # SQL text via paths.sql_str_lit (exact backslash/quote escaping, pinned
    # against the Column form by tests); the parsed tree is identical, so
    # the plan, the pushed filters and the codegen shape (string literals
    # land in the references array) are byte-for-byte what the Column
    # form produced.
    pred = f"filePath = {sql_str_lit(file_path)} AND {exact}"
    if "bucket" in chunks.columns:
        # partition pruning: only the document's hash bucket is scanned.
        # ``n_buckets`` must be the TABLE's persisted count (engine passes
        # it); the default matches tables written before the property.
        from ..functions.spark_hash import bucket_of
        from ..plans.ingest import N_BUCKETS

        nb = n_buckets if n_buckets is not None else N_BUCKETS
        b = bucket_of(file_path, int(nb))
        pred = f"bucket = {int(b)} AND {pred}"
    # orderBy + limit(frame size) keeps the ascending-order contract as a
    # single TakeOrderedAndProject — no range-partitioner sampling job
    # (the limit caps it to a per-partition top-k + driver merge) and one
    # whole-stage-codegen unit instead of the two a coalesce(1)+
    # sortWithinPartitions tail compiles per query (fresh literals defeat
    # the codegen cache, so every cold read pays compilation). The limit
    # is exact, not a truncation: chunkIndex is unique within a document,
    # so the frame holds at most hi-lo+1 rows. Measured: ~10% off the
    # cold-read p50 on top of the predicate rewrite above.
    return chunks.where(pred).orderBy("chunkIndex").limit(hi - lo + 1)


def pin_document_frame(
    chunks: DataFrame, file_path: str, *, n_buckets: int | None = None
) -> DataFrame:
    """Persist the document's single hash bucket for REPEATED in-plan
    neighbor reads over one document (the reference perf test's shape,
    rag-server.read-neighbors.perf.test.ts:68-89): subsequent
    ``read_neighbors`` calls against the returned frame filter an
    InMemoryRelation instead of re-planning the parquet scan — measured
    ~2x per-read latency cut, which puts the read at Spark's
    job-submission floor. That floor is the in-plan form's limit: a
    trivial ``collect()`` on a cached 100-row frame alone measures ~half
    the SLO budget, so the <100 ms P95 contract is served by
    ``NeighborServer`` (pyarrow point reads, ~2-5 ms); this helper is for
    callers that must stay inside a Spark plan. Caller unpersists.

    ``n_buckets`` MUST be the table's persisted count (plans.ingest.
    table_n_buckets) for the bucket partition-prune to apply; without it
    the one-time pin scans every bucket for the filePath filter — slower
    to build, but CORRECT on any table, whereas guessing a default count
    would filter the wrong bucket and silently pin an empty frame."""
    if "bucket" in chunks.columns and n_buckets is not None:
        from ..functions.spark_hash import bucket_of

        chunks = chunks.filter(
            F.col("bucket") == bucket_of(file_path, int(n_buckets))
        )
    return chunks.filter(F.col("filePath") == file_path).persist()


class NeighborServer:
    """Serving-path neighbor reads over the Spark-written chunks layout.

    BASELINE.json's stated architecture: "Batch index build via DataFrame
    ops, serving requires external system". This is that external system's
    smallest possible form — a driver/sidecar point-reader over the SAME
    bucketed parquet table ``write_chunks`` produces. No Spark job per
    read: the layout does the work.

      * hash-bucket directory prunes to one partition (bucket resolved via
        one Spark lookup per document, then cached);
      * row groups are sorted by (filePath, chunkIndex) at write time, so
        parquet min/max stats prune to the one row group holding the frame.

    Matches the reference's read_chunk_neighbors SLO shape
    (src/server/__tests__/rag-server.read-neighbors.perf.test.ts:68-89):
    warmed repeated reads of one document, P95 < 100 ms. The DataFrame
    operator ``read_neighbors`` stays the in-plan (batch) form.
    """

    def __init__(self, spark, table_path: str):
        self._spark = spark
        self._path = table_path
        self._buckets: dict[str, int] = {}
        self._datasets: dict[int, object] = {}  # bucket -> pyarrow dataset

    def invalidate(self) -> None:
        """Drop cached dataset handles AND cached bucket assignments. Call
        after compact/delete/ingest: bucket rewrites replace the parquet
        files a cached handle points at (stale-footer reads would fail or,
        worse, see pre-delete rows), and a rewrite that changed the
        table's bucket COUNT re-routes every path — a bucket id computed
        under the old count would open the wrong directory and silently
        return empty neighbor frames."""
        self._datasets.clear()
        self._buckets.clear()

    def _dataset_of(self, bucket: int, *, refresh: bool = False):
        # cache the dataset handle: directory listing + parquet footer
        # parsing would otherwise repeat on every point read
        if refresh or bucket not in self._datasets:
            import pyarrow.dataset as ds

            self._datasets[bucket] = ds.dataset(
                f"{self._path}/bucket={bucket}", format="parquet"
            )
        return self._datasets[bucket]

    def _bucket_of(self, file_path: str) -> int:
        if file_path not in self._buckets:
            from ..functions.spark_hash import bucket_of
            from ..plans.ingest import table_n_buckets

            # local xxHash64 (bit-exact with F.xxhash64, property-tested):
            # the previous implementation submitted a whole Spark job per
            # new document just to learn its bucket — a cold point read
            # paid ~100 ms of scheduling before opening a single file
            self._buckets[file_path] = bucket_of(
                file_path, table_n_buckets(self._path)
            )
        return self._buckets[file_path]

    def read(
        self,
        file_path: str,
        target: int,
        *,
        before: int = DEFAULT_BEFORE,
        after: int = DEFAULT_AFTER,
    ):
        """Return the neighbor frame as a list of pyarrow-backed dict rows,
        ascending by chunkIndex."""
        import pyarrow.dataset as ds

        before = min(max(before, 0), MAX_SPAN)
        after = min(max(after, 0), MAX_SPAN)
        lo, hi = max(target - before, 0), target + after
        bucket = self._bucket_of(file_path)
        expr = (
            (ds.field("filePath") == file_path)
            & (ds.field("chunkIndex") >= lo)
            & (ds.field("chunkIndex") <= hi)
        )
        try:
            tbl = self._dataset_of(bucket).to_table(filter=expr)
        except (FileNotFoundError, OSError):
            # self-heal: a compact/delete rewrote this bucket under a cached
            # handle — re-open once and retry; a bucket whose last document
            # was deleted has no directory at all -> empty frame
            self._datasets.pop(bucket, None)
            try:
                tbl = self._dataset_of(bucket, refresh=True).to_table(filter=expr)
            except FileNotFoundError:
                return []
        return tbl.sort_by("chunkIndex").to_pylist()
