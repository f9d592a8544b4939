"""Hybrid search pipeline — the reference's ``query_documents`` hot path.

Reference pipeline (src/server/index.ts:389-508, src/vectordb/index.ts:330-430,
src/vectordb/search-filters.ts): embed query -> flat-KNN top-(2k) by dot
distance with optional scope/max-distance pushdown -> statistical grouping
filter on raw distances -> BM25 keyword scores restricted to candidate files
-> LEFT OUTER boost join -> re-sort -> top-N-files filter -> LIMIT k.

Spark-first shape: one declarative DAG. The top-k is ``orderBy(...).limit``
(physical ``TakeOrderedAndProject`` — per-partition heaps + driver merge, no
global sort shuffle; survives 1000 executors). The candidate set is small
(2k <= 40 rows) after that, so every later stage (grouping stats, boost join,
file filter) operates on a tiny DataFrame the optimizer will broadcast.

Determinism contract (for the duckdb oracle): ranking keys are
(round(score, 6), *id_cols) — rounding first removes float32-accumulation
last-bit noise, the id tie-break makes LIMIT a total order.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.paths import scope_predicate
from ..plans.cache import persisted
from ..functions.vector import dot_distance, vec_lit
from .vector_serve import SCORE_DECIMALS

# reference constants
CANDIDATE_MULTIPLIER = 2  # src/vectordb/types.ts:10
DEFAULT_HYBRID_WEIGHT = 0.6  # src/vectordb/types.ts:19
GROUPING_STD_MULTIPLIER = 1.5  # src/vectordb/search-filters.ts:10


def _rounded(col: Column) -> Column:
    # + 0.0 canonicalizes IEEE -0.0 (a 1-dot distance can round to -0.0
    # when dot > 1 by an ulp) so the oracle compare sees one zero
    return F.round(col, SCORE_DECIMALS) + F.lit(0.0)


def vector_topk(
    chunks: DataFrame,
    query_vec: Sequence[float],
    k: int,
    *,
    vec_col: str = "vector",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    scope: list[str] | None = None,
    max_distance: float | None = None,
    overfetch: int = CANDIDATE_MULTIPLIER,
) -> DataFrame:
    """Flat (exact) KNN: distance = 1 - dot, candidates = k * overfetch.

    The reference never builds a vector index — exact brute-force is the
    semantics (src/vectordb/index.ts:346-367). ``orderBy().limit()`` compiles
    to TakeOrderedAndProject: each partition keeps a (k*overfetch)-row heap,
    the driver merges — O(n) scan, no shuffle, scale-safe. The distance
    stays a JVM column expression: measured on Spark 4 (200k x 384-d), the
    zip_with/aggregate fold beats an Arrow numpy kernel ~3x — the Arrow
    path pays per-row list->ndarray conversion, while the fold runs inside
    whole-stage codegen. (The mapInPandas kernel in operators/similarity
    wins for MULTI-query top-k, where it amortizes the conversion across
    the query matrix and avoids a crossJoin+window.)
    """
    df = chunks
    if scope:
        df = df.filter(scope_predicate(F.col("filePath"), scope))
    df = df.withColumn("score", _rounded(dot_distance(F.col(vec_col), vec_lit(query_vec))))
    if max_distance is not None:
        df = df.filter(F.col("score") <= max_distance)
    order = [F.col("score").asc()] + [F.col(c).asc() for c in id_cols]
    return df.orderBy(*order).limit(k * overfetch).drop(vec_col)


def vector_topk_batch(
    chunks: DataFrame,
    query_vecs: dict,
    k: int,
    *,
    vec_col: str = "vector",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    payload_cols: Sequence[str] = (),
    overfetch: int = CANDIDATE_MULTIPLIER,
    scope: list[str] | None = None,
    max_distance: float | None = None,
) -> DataFrame:
    """W1 for MANY queries in ONE corpus scan — the concurrent-serving
    shape: N user queries amortize a single pass instead of N scans.
    ``payload_cols`` ride along in the output without participating in
    the (score, *id_cols) ranking order.

    ``query_vecs``: {query_id: vector}. The query matrix broadcasts into
    an Arrow kernel (one numpy matmul per corpus batch, same kernel
    choice as operators/similarity.cosine_knn — the multi-query shape is
    where Arrow beats the codegen'd column fold); each partition emits
    only its local top-(k*overfetch) rows PER QUERY, and the global pick
    is a window over <= queries x partitions x k*overfetch rows. Distance
    is the same rounded ``1 - dot`` as ``vector_topk``, so per-query
    results are row-identical to N separate calls.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    qids = sorted(query_vecs)
    qmat = np.stack([np.asarray(query_vecs[q], dtype=np.float64) for q in qids])
    n = k * overfetch

    if scope:
        # P4 pushdown, shared by the whole batch (one request, one scope —
        # the filter reaches the parquet scan before the Arrow kernel)
        chunks = chunks.filter(scope_predicate(F.col("filePath"), scope))
    carry = list(id_cols) + [col for col in payload_cols if col not in id_cols]
    c = chunks.select(*carry, F.col(vec_col).alias("_v"))
    # query ids are plain strings from the engine surface
    from pyspark.sql.types import StringType

    out_schema = StructType(
        [StructField("query_id", StringType())]
        + [StructField(col, chunks.schema[col].dataType) for col in carry]
        + [StructField("score", DoubleType())]
    )

    def _local(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["_v"]]
            )
            parts = []
            for j, qid in enumerate(qids):
                # emit the RAW 1-dot distance: rounding happens once,
                # Spark-side, through the same _rounded() expression
                # vector_topk uses (BigDecimal HALF_UP) — np.round is
                # half-even and documented as sometimes inexact, so
                # rounding here could disagree at a 1e-6 boundary and
                # break the "row-identical to N vector_topk calls"
                # invariant the oracle tests rely on
                score = 1.0 - cmat @ qmat[j]
                local = pd.DataFrame(
                    {col: pdf[col].to_numpy() for col in carry}
                    | {"score": score}
                )
                if max_distance is not None:
                    # P5 applied BEFORE local selection (matching
                    # vector_topk's filter-then-topk order) on the raw
                    # score with one rounding-quantum slack; the exact
                    # post-rounding filter below finishes the job
                    local = local[
                        local["score"] <= max_distance + 10.0 ** -SCORE_DECIMALS
                    ]
                local = local.sort_values(
                    ["score", *id_cols],
                    ascending=[True] * (1 + len(id_cols)),
                )
                if len(local) > n:
                    # raw-order top-n plus every row within one rounding
                    # quantum of the boundary: a dropped row could only
                    # outrank a kept one post-rounding if their rounded
                    # scores tie, which bounds its raw score to within
                    # 10^-SCORE_DECIMALS of the n-th kept row
                    cutoff = (
                        float(local["score"].iloc[n - 1])
                        + 10.0 ** -SCORE_DECIMALS
                    )
                    local = local[local["score"] <= cutoff]
                top = local
                top.insert(0, "query_id", str(qid))
                parts.append(top)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    partial = c.mapInPandas(_local, out_schema)
    partial = partial.withColumn("score", _rounded(F.col("score")))
    if max_distance is not None:
        partial = partial.filter(F.col("score") <= max_distance)
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), *[F.col(col).asc() for col in id_cols]
    )
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def grouping_filter(
    hits: DataFrame,
    mode: str | None,
    *,
    score_col: str = "score",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    part_cols: Sequence[str] = (),
) -> DataFrame:
    """Statistical relevance-gap grouping (reference W3).

    Sort ascending by score; gap_i = score[i+1] - score[i]; a boundary is a
    gap > mean(gaps) + 1.5*std(gaps) (population std). 'similar' keeps rows
    up to the 1st boundary, 'related' up to the 2nd
    (src/vectordb/search-filters.ts:23-64). Runs on the raw candidate set
    BEFORE boost, deliberately (src/vectordb/index.ts:372-376).

    The candidate set is tiny (<= 2k rows) so the single-partition window is
    free; at scale this stage always follows a top-k. ``part_cols`` applies
    the whole statistic PER GROUP (the batch shape: one grouping decision
    per query_id over that query's own candidates).
    """
    if mode is None:
        return hits
    cuts = {"similar": 1, "related": 2}[mode]
    order = [F.col(score_col).asc()] + [F.col(c).asc() for c in id_cols]
    w = Window.partitionBy(*part_cols).orderBy(*order)
    gap = F.lead(score_col).over(w) - F.col(score_col)
    df = hits.withColumn("_gap", gap)
    stats = Window.partitionBy(*part_cols)
    df = df.withColumn("_mean", F.mean("_gap").over(stats)).withColumn(
        "_std", F.stddev_pop("_gap").over(stats)
    )
    boundary = F.when(
        F.col("_gap") > F.col("_mean") + GROUPING_STD_MULTIPLIER * F.col("_std"), 1
    ).otherwise(0)
    df = df.withColumn(
        "_boundaries_before",
        F.coalesce(
            F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
        ),
    )
    return df.filter(F.col("_boundaries_before") < cuts).drop(
        "_gap", "_mean", "_std", "_boundaries_before"
    )


def keyword_boost(
    hits: DataFrame,
    keyword_scores: DataFrame,
    *,
    on: Sequence[str] = ("filePath", "chunkIndex"),
    weight: float = DEFAULT_HYBRID_WEIGHT,
    score_col: str = "score",
    kw_col: str = "_score",
) -> DataFrame:
    """J1 + T9: LEFT OUTER join FTS scores, normalize by max, boost.

    boosted = distance / (1 + kw_norm * weight); unmatched rows keep their
    distance (kw=0). (src/vectordb/search-filters.ts:116-156)
    The keyword side is at most 2x the candidate count -> broadcast join.

    The max-normalizer is an UNPARTITIONED window over the keyword frame
    (bounded: <= the candidate count by construction) rather than an
    aggregate + cross join — one exchange instead of two, which matters
    because every exchange is a separate AQE job and the post-top-k tail
    is job-submission-bound, not data-bound (round-12 floor profile:
    21 jobs/query, ~50 ms each).
    """
    w = Window.partitionBy()  # bounded input: the candidate set
    kw = (
        keyword_scores.withColumn("_max_kw", F.max(kw_col).over(w))
        .withColumn(
            "_kw_norm",
            F.when(F.col("_max_kw") > 0, F.col(kw_col) / F.col("_max_kw")).otherwise(
                F.lit(0.0)
            ),
        )
        .select(*on, "_kw_norm")
    )
    joined = hits.join(kw, list(on), "left")
    boosted = F.col(score_col) / (
        F.lit(1.0) + F.coalesce(F.col("_kw_norm"), F.lit(0.0)) * F.lit(weight)
    )
    return joined.withColumn(score_col, _rounded(boosted)).drop("_kw_norm")


def file_topn_filter(
    hits: DataFrame,
    max_files: int | None,
    *,
    file_col: str = "filePath",
    score_col: str = "score",
    part_cols: Sequence[str] = (),
) -> DataFrame:
    """W4: rank files by their best (lowest) chunk score, keep chunks of the
    top ``max_files`` files (src/vectordb/search-filters.ts:76-101).
    ``part_cols`` applies the ranking PER GROUP (the batch shape: one
    file ranking per query_id).

    Two windows, no join: best = min(score) over the file's rows, then
    dense_rank over (best, file) — equal to row_number over the DISTINCT
    files because (best, file) is unique per file. The aggregate +
    row_number + semi-join shape this replaces carried three exchanges
    (each its own AQE job); the input here is always a post-top-k
    candidate set, so the windows are bounded. NULL ``file_col`` rows
    are dropped explicitly, preserving the semi-join shape's semantics
    (a NULL join key never matched)."""
    if max_files is None:
        return hits
    per_file = Window.partitionBy(*part_cols, file_col)
    rank_w = Window.partitionBy(*part_cols).orderBy(
        F.col("_ftf_best").asc(), F.col(file_col).asc()
    )
    return (
        hits.filter(F.col(file_col).isNotNull())
        .withColumn("_ftf_best", F.min(score_col).over(per_file))
        .withColumn("_ftf_rank", F.dense_rank().over(rank_w))
        .filter(F.col("_ftf_rank") <= max_files)
        .drop("_ftf_best", "_ftf_rank")
    )


def final_topk(
    hits: DataFrame,
    k: int,
    *,
    score_col: str = "score",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    part_cols: Sequence[str] = (),
) -> DataFrame:
    """Ungrouped: orderBy().limit() -> TakeOrderedAndProject. With
    ``part_cols``, a per-group row_number window (the batch shape —
    bounded input by construction: each group is a <= 2k candidate set)."""
    order = [F.col(score_col).asc()] + [F.col(c).asc() for c in id_cols]
    if not part_cols:
        return hits.orderBy(*order).limit(k)
    w = Window.partitionBy(*part_cols).orderBy(*order)
    return (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def hybrid_search(
    chunks: DataFrame,
    query_vec: Sequence[float],
    query_terms: Sequence[str],
    *,
    k: int = 10,
    vec_col: str = "vector",
    text_col: str = "text",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    scope: list[str] | None = None,
    max_distance: float | None = None,
    grouping: str | None = "related",
    weight: float = DEFAULT_HYBRID_WEIGHT,
    max_files: int | None = 3,
    file_col: str = "filePath",
    postings: DataFrame | None = None,
    bm25_stats: dict | None = None,
) -> DataFrame:
    """The full query_documents pipeline (reference §3.1 steps 4-8).

    The candidate set (<= 2k rows) is persisted AND materialized eagerly:
    five downstream stages reference it (grouping, BM25 restriction, boost
    join, file filter, final top-k), several of them from broadcast/subquery
    jobs that would otherwise race a lazy cache and re-run the corpus scan +
    distance top-k each. Eager stage boundaries mirror the reference's own
    sequential pipeline (§3.1).

    Keyword scoring has two shapes. ``postings`` lets callers pass a
    prebuilt/persisted BM25 index — the production shape, where the index
    is a bucketed table and scoring joins are shuffle-free. With no index,
    ``bm25_scores_scan`` scores directly off the chunks scan: one
    shuffle-free aggregate for corpus stats plus per-row array math on the
    candidate rows only — far cheaper than building a full postings table
    for a single query.
    """
    from .bm25 import bm25_scores, bm25_scores_scan

    cands = persisted(vector_topk(
        chunks, query_vec, k, vec_col=vec_col, id_cols=id_cols,
        scope=scope, max_distance=max_distance,
    ))
    cands.count()
    # grouped derives from the persisted <=2k candidate rows; persist keeps
    # its window result stable across the three downstream uses but an
    # eager count() would only add a job (recompute off the cache is
    # window-over-20-rows cheap).
    grouped = persisted(grouping_filter(cands, grouping, id_cols=id_cols))
    if postings is not None:
        # bm25_stats here is the index's PERSISTED corpus statistics
        # (plans/fts.read_fts_stats): with them the per-query plan touches
        # only the matched terms' row groups; without them it pays a
        # full-index distinct+aggregate for N/avgdl every query
        kw = bm25_scores(
            postings, query_terms, id_cols=id_cols, candidates=grouped,
            materialize=False, stats=bm25_stats,
        )
    else:
        # bm25_stats (corpus_stats_scan result, computed once per corpus
        # snapshot) removes the per-query stats job of the index-free path
        kw = bm25_scores_scan(
            chunks, query_terms, id_cols=id_cols, text_col=text_col,
            candidates=grouped, stats=bm25_stats,
        )
    # no persist on boosted (round 13): since the r12 window-chain file
    # filter, the tail — file rank, file cut, final top-k — is one LINEAR
    # consumer, so the persist only added a materialization job
    boosted = keyword_boost(grouped, kw, on=id_cols, weight=weight)
    filtered = file_topn_filter(boosted, max_files, file_col=file_col)
    return final_topk(filtered, k, id_cols=id_cols)


def hybrid_search_batch(
    chunks: DataFrame,
    query_vecs: dict,
    query_terms: dict,
    *,
    k: int = 10,
    vec_col: str = "vector",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    weight: float = DEFAULT_HYBRID_WEIGHT,
    grouping: str | None = None,
    max_files: int | None = None,
    file_col: str = "filePath",
    postings: DataFrame | None = None,
    bm25_stats: dict | None = None,
    text_col: str = "text",
    payload_cols: Sequence[str] = (),
    scope: list[str] | None = None,
    max_distance: float | None = None,
) -> DataFrame:
    """The FULL hybrid pipeline for N concurrent queries in ONE corpus
    scan — `hybrid_search` amortized the way `vector_topk_batch` amortizes
    W1. Per-query results are row-identical to N separate `hybrid_search`
    calls (pytest-pinned): the vector stage is one Arrow scan for all
    queries; every later stage (grouping, BM25 restricted to candidates,
    boost normalization, file filter, final top-k) is a window or join
    PARTITIONED BY query_id over each query's <= 2k candidate rows, so
    per-query work stays bounded and the plan has no per-query corpus
    re-scan anywhere.

    BM25 semantics match the single path exactly: per-term df and the
    corpus statistics are GLOBAL (restricting candidates must not change
    term weights); with `postings` + `bm25_stats` (the persisted index
    and its table-property counters) the keyword side touches only the
    union of all queries' terms — one pruned scan shared by every query.

    ``query_vecs``: {query_id: vector}; ``query_terms``: {query_id:
    [terms]} (missing/empty term lists mean vector-only for that query).
    Output: (query_id, *id_cols[, payload], score), exactly k rows/query
    before the file filter trims further.
    """
    from .bm25 import build_postings

    spark = chunks.sparkSession
    qids = sorted(query_vecs)
    payload = list(payload_cols)
    if max_files is not None and file_col not in id_cols and file_col not in payload:
        payload.append(file_col)
    cands = persisted(vector_topk_batch(
        chunks, query_vecs, k, vec_col=vec_col, id_cols=id_cols,
        payload_cols=payload, scope=scope, max_distance=max_distance,
    ))
    # EAGER materialization is load-bearing, not belt-and-braces: the
    # keyword chain references this cache from broadcast-build futures
    # that run CONCURRENTLY — racing an unmaterialized cache, each future
    # re-runs the corpus scan + top-k (a 14 s pile-up at the 10x replica)
    cands.count()
    # grouping=None must not re-persist the same frame (a second cache of
    # identical bytes plus its materialization job)
    grouped = cands if grouping is None else persisted(grouping_filter(
        cands, grouping, id_cols=id_cols, part_cols=("query_id",)
    ))

    pairs = [
        (str(q), t)
        for q in qids
        for t in dict.fromkeys(query_terms.get(q) or query_terms.get(str(q)) or [])
    ]
    if pairs:
        from .bm25 import bm25_term_score

        # Job discipline (round 13): the BOUNDED side broadcasts. The
        # candidate set (<= 2k rows/query) crossed with the term list is
        # small by construction, so it broadcasts INTO the pruned
        # postings scan; the postings rows for the query's terms are
        # CORPUS-proportional (a hot term matches O(corpus) documents)
        # and must stay distributed AND uncached — broadcasting or
        # persisting them was a 14 s regression at the 10x replica and a
        # scale-killer at 100 TB. Per-term df stays a map-side-combinable
        # aggregate over the pruned scan (a window-over-term variant read
        # nicer on paper but runs inside kw's CACHED — hence non-AQE —
        # plan, where it cost 4 s at the 10x replica vs the aggregate's
        # ~0.5). Net on the sf0.1 bench: 23 -> ~15 jobs, zero shuffles of
        # the candidate frame, and matched is two pruned scans instead of
        # a corpus-proportional cache.
        terms_df = spark.createDataFrame(pairs, "query_id string, term string")
        all_terms = sorted({t for _, t in pairs})
        if postings is None:
            # one tokenize for the whole batch — amortized over N queries,
            # where the single-query path would prefer the scan scorer.
            # Persisted: unlike the indexed shape, BOTH matched readers
            # would otherwise re-run the full-corpus tokenize
            postings = persisted(build_postings(
                chunks, id_cols=id_cols, text_col=text_col
            ))
        matched = postings.filter(F.col("term").isin(all_terms))
        dfreq = F.broadcast(
            matched.groupBy("term").agg(
                F.countDistinct(*id_cols).alias("_df")
            )
        )
        if bm25_stats is not None:
            n_col = F.lit(int(bm25_stats["n"]))
            avgdl_col = F.lit(float(bm25_stats["avgdl"] or 0.0))
            stats_join = None
        else:
            stats_join = (
                postings.select(*id_cols, "dl").distinct()
                .agg(F.count("*").alias("_n"), F.avg("dl").alias("_avgdl"))
            )
            n_col, avgdl_col = F.col("_n"), F.col("_avgdl")
        cand_terms = F.broadcast(
            grouped.select("query_id", *id_cols).join(terms_df, "query_id")
        )
        scored = matched.join(cand_terms, [*id_cols, "term"]).join(
            dfreq, "term"
        )
        if stats_join is not None:
            scored = scored.crossJoin(F.broadcast(stats_join))
        # the ONE Okapi definition, shared with bm25_scores — formula
        # changes (idf floor etc.) cannot desynchronize batch from single
        term_score = bm25_term_score(
            n_col, avgdl_col, F.col("_df"), F.col("tf"), F.col("dl")
        )
        kw = scored.groupBy("query_id", *id_cols).agg(
            F.sum(term_score).alias("_s")
        )
        # per-query max-normalizer as a window over the (bounded) scored
        # frame — one exchange instead of a second aggregate + join
        # (same tail-job discipline as keyword_boost)
        kw = kw.withColumn(
            "_mx", F.max("_s").over(Window.partitionBy("query_id"))
        )
        norm = F.coalesce(
            F.when(F.col("_mx") > 0, F.col("_s") / F.col("_mx")), F.lit(0.0)
        )
        boosted = (
            grouped.join(F.broadcast(kw), ["query_id", *id_cols], "left")
            .withColumn(
                "score",
                _rounded(F.col("score") / (F.lit(1.0) + norm * F.lit(weight))),
            )
            .drop("_s", "_mx")
        )
    else:
        boosted = grouped
    # no persist on boosted: the r12 aggregate+join file filter read it
    # twice, but the window-chain tail below is one LINEAR consumer —
    # file rank, file cut, and final top-k all evaluate in a single pass
    filtered = file_topn_filter(
        boosted, max_files, file_col=file_col, part_cols=("query_id",)
    )
    return final_topk(filtered, k, id_cols=id_cols, part_cols=("query_id",))
