"""Hybrid search pipeline — the reference's ``query_documents`` hot path.

Reference pipeline (src/server/index.ts:389-508, src/vectordb/index.ts:330-430,
src/vectordb/search-filters.ts): embed query -> flat-KNN top-(2k) by dot
distance with optional scope/max-distance pushdown -> statistical grouping
filter on raw distances -> BM25 keyword scores restricted to candidate files
-> LEFT OUTER boost join -> re-sort -> top-N-files filter -> LIMIT k.

Distributed candidates, local merge: Spark runs only the stages that touch
the corpus. The vector top-k is ``orderBy(...).limit`` (physical
``TakeOrderedAndProject`` — per-partition heaps + driver merge, no global
sort shuffle; survives 1000 executors), or for a batch of queries one
Arrow kernel pass (``vector_topk_batch``), and, on the indexed path, one
term-grouped aggregate over the query terms' postings rows. What follows is
a rerank of <= 2k candidate rows per query, which ``hybrid_search`` and
``hybrid_search_batch`` both run on the driver through one helper and the
pure functions below (``group_candidates``, ``boost_rows``, ``file_cut``,
``top_rows``, plus ``bm25.bm25_sum``) — the same code the pyarrow sidecar
(operators/hybrid_serve) serves with, so the rerank has one Python
implementation. Run as Spark plans, the tail cost ~9 jobs of submission
overhead for <= 20 output rows. The batch's vector stage is one Arrow
kernel pass whose per-partition candidates the driver cuts to each
query's top-2k, so it costs one job, like the single query's top-k.

Each Spark stage is built from SQL text (distance, filters, IN lists,
aggregates), one parse per expression, not as a Column chain whose every
node is a synchronous py4j round trip: the query's stages went from ~870
round trips to under 200 with the same optimized plans.

The Spark forms of the tail stay as references: ``grouping_filter`` and
``keyword_boost`` serve their own registry lanes, while ``file_topn_filter``
and ``final_topk`` have no lane and are kept as the Spark reference that
tests/test_search.py pins the driver functions row-identical to.

Determinism contract (for the duckdb oracle): ranking keys are
(round(score, 6), *id_cols) — rounding first removes float32-accumulation
last-bit noise, the id tie-break makes LIMIT a total order.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.paths import scope_predicate, sql_str_lit
from ..functions.vector import double_sql, dot_distance_sql, vec_sql
from .vector_serve import SCORE_DECIMALS, _exact_round

# reference constants
CANDIDATE_MULTIPLIER = 2  # src/vectordb/types.ts:10
DEFAULT_HYBRID_WEIGHT = 0.6  # src/vectordb/types.ts:19
GROUPING_STD_MULTIPLIER = 1.5  # src/vectordb/search-filters.ts:10


def _rounded(col: Column) -> Column:
    # + 0.0 canonicalizes IEEE -0.0 (a 1-dot distance can round to -0.0
    # when dot > 1 by an ulp) so the oracle compare sees one zero
    return F.round(col, SCORE_DECIMALS) + F.lit(0.0)


def _rounded_sql(expr: str) -> str:
    """``_rounded`` as SQL text: the same Round and + 0.0 nodes, parsed
    once instead of built by a py4j call per node."""
    return f"round({expr}, {SCORE_DECIMALS}) + 0.0D"


def _max_distance_sql(max_distance: float) -> str:
    return f"score <= {double_sql(float(max_distance))}"


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

    The distance, the scope filter and the ``max_distance`` filter are
    SQL text, one parse each (the query vector spliced in by
    ``vec_sql``): built as Column chains they cost ~240 py4j round trips
    per query for the same optimized plan.
    """
    df = chunks
    if scope:
        df = df.filter(scope_predicate("filePath", scope))
    dist = dot_distance_sql(f"`{vec_col}`", vec_sql(query_vec))
    df = df.withColumn("score", F.expr(_rounded_sql(dist)))
    if max_distance is not None:
        df = df.filter(_max_distance_sql(max_distance))
    return df.orderBy("score", *id_cols).limit(k * overfetch).drop(vec_col)


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

    ``query_vecs``: {query_id: vector}. The candidates come from
    ``_vector_candidates`` (one Arrow kernel pass); the global pick is a
    ``query_id`` window over them. Distance is the same rounded
    ``1 - dot`` as ``vector_topk``, so per-query results are
    row-identical to N separate calls. ``hybrid_search_batch`` skips the
    window (and the shuffle it costs) and takes the per-query top-n on
    the driver instead.
    """
    n = k * overfetch
    partial = _vector_candidates(
        chunks, query_vecs, n, vec_col=vec_col, id_cols=id_cols,
        payload_cols=payload_cols, scope=scope, max_distance=max_distance,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").asc(), *[F.col(col).asc() for col in id_cols]
    )
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def _vector_candidates(
    chunks: DataFrame,
    query_vecs: dict,
    n: int,
    *,
    vec_col: str,
    id_cols: Sequence[str],
    payload_cols: Sequence[str],
    scope: list[str] | None,
    max_distance: float | None,
) -> DataFrame:
    """Every query's top-``n`` candidates per corpus partition, in one
    scan: (query_id, *id_cols, *payload_cols, score) rows, score rounded
    as ``vector_topk``'s. The query matrix broadcasts into an Arrow
    kernel (one numpy matmul per corpus batch, same kernel choice as
    operators/similarity.cosine_knn — the multi-query shape is where
    Arrow beats the codegen'd column fold), and each Arrow batch emits
    only its local top-n rows PER QUERY plus rounding ties, so the frame
    holds at most queries x batches x n rows plus those ties, where a
    partition of r rows is ceil(r / arrow.maxRecordsPerBatch) batches
    (10,000 rows each; one batch per partition on every corpus measured
    so far). A query's first ``n`` rows in (score, *id_cols) order over
    the whole frame are its global top-n."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StringType, StructField

    qids = sorted(query_vecs)
    qmat = np.stack([np.asarray(query_vecs[q], dtype=np.float64) for q in qids])

    if scope:
        # P4 pushdown, shared by the whole batch (one request, one scope —
        # the filter reaches the parquet scan before the Arrow kernel)
        chunks = chunks.filter(scope_predicate("filePath", scope))
    carry = list(id_cols) + [col for col in payload_cols if col not in id_cols]
    c = chunks.select(*carry, F.col(vec_col).alias("_v"))
    # query ids are plain strings from the engine surface
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
                # Spark-side, through the same _rounded_sql() expression
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
    partial = partial.withColumn("score", F.expr(_rounded_sql("score")))
    if max_distance is not None:
        partial = partial.filter(_max_distance_sql(max_distance))
    return partial


def grouping_filter(
    hits: DataFrame,
    mode: str | None,
    *,
    score_col: str = "score",
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
) -> DataFrame:
    """Statistical relevance-gap grouping (reference W3).

    Sort ascending by score; gap_i = score[i+1] - score[i]; a boundary is a
    gap > mean(gaps) + 1.5*std(gaps) (population std). 'similar' keeps rows
    up to the 1st boundary, 'related' up to the 2nd
    (src/vectordb/search-filters.ts:23-64). Runs on the raw candidate set
    BEFORE boost, deliberately (src/vectordb/index.ts:372-376).

    The candidate set is tiny (<= 2k rows) so the single-partition window is
    free; at scale this stage always follows a top-k.
    """
    if mode is None:
        return hits
    cuts = {"similar": 1, "related": 2}[mode]
    order = [F.col(score_col).asc()] + [F.col(c).asc() for c in id_cols]
    w = Window.orderBy(*order)
    gap = F.lead(score_col).over(w) - F.col(score_col)
    df = hits.withColumn("_gap", gap)
    stats = Window.partitionBy()
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
) -> DataFrame:
    """W4: rank files by their best (lowest) chunk score, keep chunks of the
    top ``max_files`` files (src/vectordb/search-filters.ts:76-101).

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
    per_file = Window.partitionBy(file_col)
    rank_w = Window.orderBy(
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
) -> DataFrame:
    """orderBy().limit() -> TakeOrderedAndProject."""
    order = [F.col(score_col).asc()] + [F.col(c).asc() for c in id_cols]
    return hits.orderBy(*order).limit(k)


# -- the driver tail ------------------------------------------------------
# Steps 5-8 over a bounded candidate list of row dicts, each carrying
# "score" and the id columns (extra keys ride along untouched). The float
# discipline reproduces the Spark operators above row for row.


def _rank_key(id_cols: Sequence[str]):
    return lambda r: (r["score"], *(r[c] for c in id_cols))


def group_candidates(
    cands: list[dict],
    mode: str | None,
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
) -> list[dict]:
    """``grouping_filter`` over the candidate list: rows up to the 1st
    ('similar') or 2nd ('related') relevance gap, in (score, *id_cols)
    order. Spark's exact float behaviour: the gap mean accumulates
    SEQUENTIALLY in window order (Average), the stddev_pop through the
    Welford recurrence CentralMomentAgg runs — numpy pairwise summation
    would diverge by ulps and flip boundary decisions."""
    if mode is None:
        return cands
    cuts = {"similar": 1, "related": 2}[mode]
    cands = sorted(cands, key=_rank_key(id_cols))
    gaps = [b["score"] - a["score"] for a, b in zip(cands, cands[1:])]
    if not gaps:
        return cands
    # TWO distinct recurrences, matching Spark's two aggregates: the
    # Welford internal mean is NOT the Average, and conflating them drifts
    total, cnt, wmean, m2 = 0.0, 0.0, 0.0, 0.0
    for g in gaps:
        total += g
        cnt += 1.0
        delta = g - wmean
        wmean += delta / cnt
        m2 += delta * (g - wmean)
    threshold = total / cnt + GROUPING_STD_MULTIPLIER * math.sqrt(m2 / cnt)
    kept = []
    boundaries = 0
    for i, r in enumerate(cands):
        if boundaries >= cuts:
            break
        kept.append(r)
        if i < len(gaps) and gaps[i] > threshold:
            boundaries += 1
    return kept


def boost_rows(
    rows: list[dict],
    kw: dict,
    weight: float = DEFAULT_HYBRID_WEIGHT,
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
) -> list[dict]:
    """``keyword_boost``: score / (1 + kw / max(kw) * weight), rounded
    like ``_rounded`` (decimal HALF_UP at 6, -0.0 canonicalized). ``kw``
    maps an id tuple to its BM25 score; unmatched rows keep kw = 0."""
    mx = max(kw.values(), default=0.0)
    out = []
    for r in rows:
        s = kw.get(tuple(r[c] for c in id_cols), 0.0)
        norm = s / mx if mx > 0 else 0.0
        out.append(
            {**r, "score": _exact_round(r["score"] / (1.0 + norm * weight)) + 0.0}
        )
    return out


def file_cut(
    rows: list[dict], max_files: int | None, *, file_col: str = "filePath"
) -> list[dict]:
    """``file_topn_filter``: keep the rows of the ``max_files`` files with
    the best (lowest) chunk score, files ranked by (best, file); rows with
    a NULL file drop out whenever the cut applies."""
    if max_files is None:
        return rows
    best: dict = {}
    for r in rows:
        f = r[file_col]
        if f is not None:
            best[f] = min(best.get(f, r["score"]), r["score"])
    ranked = sorted((s, f) for f, s in best.items())
    keep = {f for _, f in ranked[: max(0, max_files)]}
    return [r for r in rows if r[file_col] in keep]


def top_rows(
    rows: list[dict], k: int, *, id_cols: Sequence[str] = ("filePath", "chunkIndex")
) -> list[dict]:
    """``final_topk``: the first ``k`` rows in (score, *id_cols) order."""
    return sorted(rows, key=_rank_key(id_cols))[:k]


def _sql_literal(value, dtype) -> str:
    """``value`` as Spark SQL text of type ``dtype``: a string as UTF-8
    hex (nothing to quote or escape), an int as its digits."""
    if isinstance(value, str):
        text = f"X'{value.encode().hex()}'"
    elif isinstance(value, int):
        text = str(value)
    else:
        raise TypeError(f"unsupported candidate key value {value!r}")
    return f"CAST({text} AS {dtype.simpleString()})"


def keyword_postings(
    postings: DataFrame,
    terms: Sequence[str],
    keys: Sequence[tuple],
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
) -> DataFrame:
    """One row per matched query term: ``df`` over ALL its postings rows
    (global term weights — restricting candidates must not change them)
    and ``hits``, the (*id_cols, tf, dl) of the candidate ``keys`` only.
    The terms push into the parquet scan; the terms and the keys each
    ride as one SQL IN list, and the aggregates are parsed text (one
    parse each, not a py4j call per literal or node), so a corpus-common
    term ships <= len(keys) hits to the driver."""
    cols = ", ".join(f"`{c}`" for c in id_cols)
    if tuple(id_cols) == ("filePath", "chunkIndex"):
        # the postings key is (filePath, chunkIndex, term): row count ==
        # distinct-doc count, without countDistinct's extra aggregate
        df_count = "count(*)"
    else:
        df_count = f"count(DISTINCT {cols})"
    types = [postings.schema[c].dataType for c in id_cols]
    in_list = ", ".join(
        "struct(" + ", ".join(
            f"{_sql_literal(v, t)} AS `{c}`"
            for v, t, c in zip(key, types, id_cols)
        ) + ")"
        for key in keys
    )
    hit = f"CASE WHEN struct({cols}) IN ({in_list}) THEN struct({cols}, tf, dl) END"
    return (
        postings.filter(f"term IN ({', '.join(map(sql_str_lit, terms))})")
        .groupBy("term")
        .agg(F.expr(f"{df_count} AS df"), F.expr(f"collect_list({hit}) AS hits"))
    )


def _rerank(
    chunks: DataFrame,
    top: DataFrame,
    schema: StructType,
    query_terms: dict,
    *,
    k: int,
    id_cols: Sequence[str],
    text_col: str,
    grouping: str | None,
    weight: float,
    max_files: int | None,
    file_col: str,
    postings: DataFrame | None,
    bm25_stats: dict | None,
    query_col: str | None = None,
    n: int | None = None,
):
    """Steps 5-8 on the driver over the candidates of ``top``, one rerank
    per query: ``query_terms`` maps a ``query_col`` value (None when
    ``top`` answers one query) to its terms, and with ``n`` each query
    keeps only its first ``n`` candidates in (score, *id_cols) order.
    Spark work is the one Arrow collect of ``top`` plus the keyword
    stage, shared by every query: with ``postings``, one
    ``keyword_postings`` aggregate over the union of the queries' terms
    and grouped candidate keys; without, tf/dl are projected onto ``top``
    itself (the bounded candidate rows, not the corpus) and N/avgdl/df
    come from ``bm25_stats`` or one ``corpus_stats_scan``. Returns the
    ranked rows as a pyarrow Table of ``schema``'s columns (a subset of
    ``top``'s)."""
    import pyarrow as pa

    from .bm25 import bm25_sum, corpus_stats_scan, scan_tf_dl

    terms_of = {q: sorted(set(ts or ())) for q, ts in query_terms.items()}
    all_terms = sorted({t for ts in terms_of.values() for t in ts})
    need = [*id_cols, "score"]
    if query_col is not None:
        need.append(query_col)
    if max_files is not None and file_col not in need:
        need.append(file_col)
    if postings is None and all_terms:
        top = top.select("*", *scan_tf_dl(all_terms, text_col))
        need += ["_dl", *(f"_tf{i}" for i in range(len(all_terms)))]
    table = top.toArrow()
    by_query: dict = {}
    for i, r in enumerate(table.select(need).to_pylist()):
        r["_row"], r["_key"] = i, tuple(r[c] for c in id_cols)
        by_query.setdefault(r[query_col] if query_col else None, []).append(r)
    if n is not None:
        by_query = {
            q: top_rows(rows, n, id_cols=id_cols) for q, rows in by_query.items()
        }
    cands = {
        q: group_candidates(rows, grouping, id_cols=id_cols)
        for q, rows in sorted(by_query.items())
    }
    scored = [q for q, rows in cands.items() if rows and terms_of.get(q)]
    kw_terms = sorted({t for q in scored for t in terms_of[q]})
    scored_rows = [r for q in scored for r in cands[q]]
    hits: dict = {}
    stats = bm25_stats
    if kw_terms and postings is not None:
        keys = list(dict.fromkeys(r["_key"] for r in scored_rows))
        hits = {
            r["term"]: (r["df"], {
                tuple(h[c] for c in id_cols): (h["tf"], h["dl"])
                for h in r["hits"]
            })
            for r in keyword_postings(
                postings, kw_terms, keys, id_cols=id_cols
            ).collect()
        }
        if stats is None:
            # a pre-stats index: one (N, avgdl) aggregate over it
            stats = (
                postings.select(*id_cols, "dl").distinct()
                .agg(F.count("*").alias("n"), F.avg("dl").alias("avgdl"))
                .first().asDict()
            )
    elif kw_terms:
        if stats is None:
            stats = corpus_stats_scan(chunks, kw_terms, text_col=text_col)
        hits = {
            t: (stats["df"].get(t, 0), {
                r["_key"]: (r[f"_tf{i}"], r["_dl"])
                for r in scored_rows
                if (r[f"_tf{i}"] or 0) > 0
            })
            for i, t in enumerate(all_terms)
        }
    ranked = []
    for q, rows in cands.items():
        kw: dict = {}
        if q in scored:
            kw = bm25_sum(
                terms_of[q], hits, int(stats["n"]), float(stats["avgdl"] or 0.0),
                [r["_key"] for r in rows],
            )
        ranked += top_rows(
            file_cut(
                boost_rows(rows, kw, weight, id_cols=id_cols),
                max_files, file_col=file_col,
            ),
            k, id_cols=id_cols,
        )
    out = table.select(schema.names).take(
        pa.array([r["_row"] for r in ranked], pa.int64())
    )
    return out.set_column(
        out.schema.get_field_index("score"), "score",
        pa.array([r["score"] for r in ranked], pa.float64()),
    )


def hybrid_search_rows(
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
) -> tuple:
    """The full query_documents pipeline (reference §3.1 steps 4-8),
    answered on the driver: the ranked rows as a pyarrow Table, with the
    Spark schema they have as a frame (``hybrid_search`` makes that
    frame; the engine first adds ``source`` to the rows).

    Spark work is one bounded collect per corpus-touching stage: the
    vector top-k (one job), and with ``postings`` one ``keyword_postings``
    aggregate. The driver reranks the candidates.

    Keyword scoring has two shapes. ``postings`` is the maintained BM25
    index and ``bm25_stats`` its persisted corpus statistics
    (plans/fts.read_fts_stats); a pre-stats index pays one (N, avgdl)
    aggregate. With no index, tf/dl are projected from the candidates'
    own text inside the top-k (evaluated on the merged rows only, not the
    corpus), and N/avgdl/df come from ``bm25_stats`` (a
    ``corpus_stats_scan`` result, computed once per corpus snapshot) or
    one ``corpus_stats_scan`` job.
    """
    top = vector_topk(
        chunks, query_vec, k, vec_col=vec_col, id_cols=id_cols,
        scope=scope, max_distance=max_distance,
    )
    schema = top.schema
    return _rerank(
        chunks, top, schema, {None: query_terms}, k=k, id_cols=id_cols,
        text_col=text_col, grouping=grouping, weight=weight,
        max_files=max_files, file_col=file_col, postings=postings,
        bm25_stats=bm25_stats,
    ), schema


def hybrid_search(chunks: DataFrame, *args, **kwargs) -> DataFrame:
    """``hybrid_search_rows`` as a LocalRelation built from Arrow, so
    collecting the result submits no job (a Python row list would be
    RDD-backed: one job per collect)."""
    rows, schema = hybrid_search_rows(chunks, *args, **kwargs)
    return chunks.sparkSession.createDataFrame(rows, schema=schema)


def hybrid_search_batch_rows(
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
) -> tuple:
    """The FULL hybrid pipeline for N concurrent queries in ONE corpus
    scan — `hybrid_search_rows` amortized the way `vector_topk_batch`
    amortizes W1, returning the same (pyarrow Table, Spark schema) pair.
    Per-query results are row-identical to N separate `hybrid_search`
    calls (pytest-pinned): the two differ only in their vector stage,
    here one Arrow kernel pass for all queries (`_vector_candidates`,
    one job: no `query_id` window), collected once — at most
    queries x Arrow batches x 2k rows plus rounding ties reach the
    driver (a batch per partition up to 10,000 rows), which takes each
    query's top-2k from them. The keyword stage and the
    driver rerank are `hybrid_search`'s, run per query over that query's
    <= 2k candidate rows; the indexed keyword side is one postings
    aggregate over the union of all queries' terms, so no stage
    re-scans the corpus per query.

    BM25 semantics match the single path exactly: per-term df and the
    corpus statistics are GLOBAL (restricting candidates must not change
    term weights).

    ``query_vecs``: {query_id: vector}; ``query_terms``: {query_id:
    [terms]} (missing/empty term lists mean vector-only for that query).
    Output: (query_id, *id_cols[, payload], score), exactly k rows/query
    before the file filter trims further, already in
    (query_id, score, *id_cols) order — callers need no Sort (which
    would cost an Exchange and jobs over a LocalRelation).
    """
    payload = list(payload_cols)
    if max_files is not None and file_col not in id_cols and file_col not in payload:
        payload.append(file_col)
    extra = []
    if (
        postings is None and any(query_terms.values())
        and text_col not in (*id_cols, *payload)
    ):
        # the index-free keyword side reads tf/dl off the candidates' text
        extra.append(text_col)
    n = k * CANDIDATE_MULTIPLIER
    top = _vector_candidates(
        chunks, query_vecs, n, vec_col=vec_col, id_cols=id_cols,
        payload_cols=payload + extra, scope=scope, max_distance=max_distance,
    )
    schema = StructType([f for f in top.schema.fields if f.name not in extra])
    return _rerank(
        chunks, top, schema, {str(q): ts for q, ts in query_terms.items()},
        k=k, id_cols=id_cols, text_col=text_col, grouping=grouping,
        weight=weight, max_files=max_files, file_col=file_col,
        postings=postings, bm25_stats=bm25_stats, query_col="query_id", n=n,
    ), schema


def hybrid_search_batch(chunks: DataFrame, *args, **kwargs) -> DataFrame:
    """``hybrid_search_batch_rows`` as a LocalRelation built from Arrow,
    so collecting it submits no job."""
    rows, schema = hybrid_search_batch_rows(chunks, *args, **kwargs)
    return chunks.sparkSession.createDataFrame(rows, schema=schema)
