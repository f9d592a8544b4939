"""BM25 keyword scoring — the one genuinely missing Spark built-in.

The reference delegates BM25 to LanceDB's FTS index over an ngram(2,3)
tokenizer (src/vectordb/index.ts:258-271, 402-407). Spark has no BM25, so it
is built from relational operators: tokenize -> explode -> postings with
(tf, dl) -> document frequencies -> score join. At 100 TB the postings/df
build is one shuffle each keyed by term; the per-query scoring side is a
broadcast of the query's terms (a handful of rows) so queries add no shuffle
over the postings.

Formula (Lucene/Okapi as used by Lance's FTS, k1=1.2 b=0.75):
  idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
  score   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import TOKEN_SPLIT, char_ngrams, tokens

K1 = 1.2
B = 0.75


def _tokenize(col, tokenizer: str):
    if tokenizer == "unigram":
        return tokens(col)
    if tokenizer == "ngram23":
        # reference FTS tokenizer: ngram min=2 max=3 (CJK support)
        return F.concat(char_ngrams(col, 2), char_ngrams(col, 3))
    raise ValueError(tokenizer)


def _ngram_explode(docs: DataFrame, id_cols, text_col: str, n: int) -> DataFrame:
    """All position-n character n-grams, one row each, without array HOFs."""
    d = docs.filter(F.length(text_col) >= n).select(
        *id_cols, F.lower(F.col(text_col)).alias("_s")
    )
    return d.select(
        *id_cols,
        F.explode(F.sequence(F.lit(1), F.length("_s") - (n - 1))).alias("_i"),
        "_s",
    ).select(*id_cols, F.expr(f"substring(_s, _i, {n})").alias("term"))


def build_postings(
    docs: DataFrame,
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    text_col: str = "text",
    tokenizer: str = "unigram",
) -> DataFrame:
    """Postings list: one row per (doc, term) with term frequency and doc length.

    This is the index-build side — at scale, persist it bucketed by ``term``
    so per-query scoring joins are shuffle-free.

    The unigram path deliberately avoids array higher-order functions
    (filter/transform lambdas): HOFs are interpreted per element and break
    whole-stage codegen — measured ~10x slower than split+explode+filter.
    """
    if tokenizer == "unigram":
        exploded = docs.select(
            *id_cols,
            F.explode(F.split(F.lower(F.col(text_col)), TOKEN_SPLIT)).alias("term"),
        ).filter(F.col("term") != "")
    elif tokenizer == "ngram23":
        # explode positions + substring instead of an array-transform lambda
        exploded = _ngram_explode(docs, id_cols, text_col, 2).unionByName(
            _ngram_explode(docs, id_cols, text_col, 3)
        )
    else:
        exploded = docs.select(
            *id_cols, F.explode(_tokenize(F.col(text_col), tokenizer)).alias("term")
        )
    dl = exploded.groupBy(*id_cols).agg(F.count("*").alias("dl"))
    tf = exploded.groupBy(*id_cols, "term").agg(F.count("*").alias("tf"))
    return tf.join(dl, list(id_cols))


def bm25_term_score(
    n_col,
    avgdl_col,
    df_col,
    tf_col,
    dl_col,
    *,
    k1: float = K1,
    b: float = B,
):
    """The per-(doc, term) Okapi score as a column expression — the ONE
    definition the Spark scorers (``bm25_scores``,
    ``bm25_scores_ngram_scan``) fold into their plans and ``bm25_sum``
    mirrors on the driver, so a formula change (e.g. the idf floor below)
    can never desynchronize them.

    The idf log argument is floored at 1.0 (idf >= 0): with consistent
    stats df <= N keeps it > 1 anyway, but stale persisted counters
    (n < df) would otherwise drive it <= 0 -> NULL -> the term silently
    drops from the sum, corrupting rankings instead of degrading
    gracefully."""
    idf = F.log(
        F.greatest(
            F.lit(1.0),
            F.lit(1.0) + (n_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5)),
        )
    )
    return (
        idf
        * (tf_col * (k1 + 1))
        / (tf_col + k1 * (1 - b + b * dl_col / avgdl_col))
    )


def bm25_sum(
    terms: Sequence[str],
    term_hits: dict,
    n: int,
    avgdl: float,
    keys,
    *,
    k1: float = K1,
    b: float = B,
) -> dict:
    """``bm25_term_score`` on the driver, summed per document in
    sorted-term order: ``{key: score}`` for the ``keys`` with >= 1 hit.

    ``term_hits`` maps a term to ``(df, {key: (tf, dl)})`` — df over the
    whole corpus, the hits covering at least ``keys``. The arithmetic
    follows the column expression operation for operation (same idf
    floor), with glibc ``math.log`` in place of the JVM's StrictMath."""
    scores: dict = {}
    for t in sorted(set(terms)):
        df, hits = term_hits.get(t, (0, {}))
        if df == 0:
            continue
        idf = math.log(max(1.0, 1.0 + (n - df + 0.5) / (df + 0.5)))
        for key in keys:
            hit = hits.get(key)
            if hit is None:
                continue
            tf, dl = hit
            s = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
            scores[key] = scores.get(key, 0.0) + s
    return scores


def bm25_scores(
    postings: DataFrame,
    query_terms: Sequence[str],
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    candidates: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
    materialize: bool = True,
    stats: dict | None = None,
) -> DataFrame:
    """Score documents against ``query_terms``; returns (id_cols..., _score).

    ``candidates`` (reference P3/O14: FTS restricted to vector-hit files)
    is applied as a broadcast semi join BEFORE any aggregation, so the BM25
    work stays proportional to the candidate set. Corpus statistics (N,
    avgdl, df) are computed over the FULL postings — restricting candidates
    must not change term weights, matching the reference where the FTS index
    is global but the search is WHERE-filtered.

    ``stats`` (``{"n": N, "avgdl": avgdl}``, e.g. the persisted index
    properties via ``plans.fts.read_fts_stats``) folds N/avgdl in as
    literals. Without it the plan pays a full-postings distinct+aggregate
    PER QUERY for two numbers the index build already knew — the
    difference between "reads the matched terms' row groups" and "scans
    the whole index" per query. Per-term df always comes from the matched
    rows (a term-pruned scan), so it needs no precomputation.

    ``materialize`` persists the postings once — the scoring plan reads them
    up to three times (doc lengths, document frequencies, matched terms) and
    would otherwise recompute the tokenize+aggregate subtree on every read.
    In a real deployment the postings are a persisted bucketed table and
    this is moot.
    """
    if materialize:
        postings = postings.persist()
    if stats is not None:
        n_col = F.lit(int(stats["n"]))
        avgdl_col = F.lit(float(stats["avgdl"] or 0.0))
    else:
        n_col, avgdl_col = F.col("n_docs"), F.col("avgdl")
    # literal IN-list beats a broadcast join for a handful of query terms:
    # it pushes into the (cached/bucketed) postings scan as a filter.
    terms = list(dict.fromkeys(query_terms))
    matched = postings.filter(F.col("term").isin(terms))
    if materialize:
        matched = matched.persist()
    df_stats = matched.groupBy("term").agg(F.countDistinct(*id_cols).alias("df"))
    if candidates is not None:
        matched = matched.join(candidates.select(*id_cols), list(id_cols), "left_semi")
    scored = matched.join(df_stats, "term")
    if stats is None:
        doc_lens = postings.select(*id_cols, "dl").distinct()
        corpus = doc_lens.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        scored = scored.crossJoin(corpus)
    scored = scored.withColumn(
        "_term_score",
        bm25_term_score(
            n_col, avgdl_col, F.col("df"), F.col("tf"), F.col("dl"), k1=k1, b=b
        ),
    )
    return scored.groupBy(*id_cols).agg(F.sum("_term_score").alias("_score"))


def _regex_literal(term: str) -> str:
    """``term`` as a Java-regex literal: every non-alphanumeric character
    is backslash-escaped (safe — a backslash before a non-alnum char is
    always the literal char; before an alnum it could be a class, so
    alnums are left bare)."""
    return "".join(c if c.isalnum() else "\\" + c for c in term)


def bm25_scores_ngram_scan(
    chunks: DataFrame,
    query_terms: Sequence[str],
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    text_col: str = "text",
    k1: float = K1,
    b: float = B,
    min_n: int = 2,
    max_n: int = 3,
) -> DataFrame:
    """Index-free BM25 over the ngram(min_n, max_n) tokenizer with NO
    postings table — the ngram analogue of ``bm25_scores_scan``.

    ``build_postings(tokenizer='ngram23')`` + ``bm25_scores`` explodes
    EVERY character position of every document twice and shuffles the
    exploded stream into a (doc, term) tf aggregate — O(corpus chars)
    rows through an exchange — even though a query only ever needs the
    tf of its own handful of terms. The same numbers fall out of plain
    per-row string math (guide §1.2: fix the distributed algorithm, and
    §2.3: don't shuffle what you throw away):

      * dl       = sum_n max(len - (n-1), 0)    — the tokenizer emits
                   len-(n-1) n-grams per document, by construction;
      * tf(t)    = the OVERLAPPING occurrence count of t, i.e. the number
                   of positions where an |t|-gram equals t: one native
                   ``regexp_count`` with a lookahead pattern per term;
      * N, avgdl, df(t) = one shuffle-free aggregate over those columns
                   (docs with zero tokens — len < min_n — excluded from
                   N/avgdl exactly like their missing postings rows).

    Terms outside [min_n, max_n] characters can never be tokens and score
    zero, exactly as in the postings path (no postings row matches them).
    Scoring arithmetic is ``bm25_term_score``'s, term-summed the same way
    ``bm25_scores_scan`` sums, and only documents with >= 1 matching term
    return a row. Two column-pruned map-only passes over ``text_col``,
    zero explodes, zero joins, zero shuffles at any corpus size.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        return chunks.select(
            *id_cols, F.lit(None).cast("double").alias("_score")
        ).limit(0)
    s = F.lower(F.col(text_col))
    ln = F.length(s)
    dl = sum(
        (F.greatest(ln - (n - 1), F.lit(0)) for n in range(min_n, max_n + 1)),
        F.lit(0),
    ).cast("long")

    def tf_col(t: str):
        if not (min_n <= len(t) <= max_n):
            return F.lit(0).cast("long")
        # '(?=...)' counts OVERLAPPING starts — one per position i where
        # substring(s, i, len(t)) == t, the tokenizer's tf definition
        return F.regexp_count(s, F.lit(f"(?={_regex_literal(t)})")).cast("long")

    d = chunks.select(
        *id_cols,
        dl.alias("_dl"),
        *[tf_col(t).alias(f"_tf{i}") for i, t in enumerate(terms)],
    )
    stats_row = d.filter(F.col("_dl") > 0).agg(
        F.count("*").alias("__n"),
        F.coalesce(F.avg("_dl"), F.lit(0.0)).alias("__avgdl"),
        *[
            F.coalesce(
                F.sum((F.col(f"_tf{i}") > 0).cast("long")), F.lit(0)
            ).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )
    d = d.crossJoin(F.broadcast(stats_row))
    score = F.lit(0.0)
    any_match = F.lit(False)
    for i in range(len(terms)):
        tf, df = F.col(f"_tf{i}"), F.col(f"__df{i}")
        score = score + F.when(
            (df > 0) & (tf > 0),
            bm25_term_score(
                F.col("__n"), F.col("__avgdl"), df, tf, F.col("_dl"), k1=k1, b=b
            ),
        ).otherwise(F.lit(0.0))
        any_match = any_match | (tf > 0)
    return d.filter(any_match).select(*id_cols, score.alias("_score"))


def _term_freq(toks, term: str):
    # codegen-friendly tf, no lambda HOF: tokens minus tokens-without-term
    return F.size(toks) - F.size(F.array_remove(toks, term))


def scan_tf_dl(terms: Sequence[str], text_col: str = "text") -> list:
    """``_dl`` and ``_tf{i}`` (one per term, in order) of a row's own
    text: the tokenizer and tf the index-free scorer uses, as columns a
    caller can project onto a bounded row set (hybrid_search folds them
    into the top-k's projection)."""
    toks = tokens(F.col(text_col))
    return [F.size(toks).alias("_dl")] + [
        _term_freq(toks, t).alias(f"_tf{i}") for i, t in enumerate(terms)
    ]


def corpus_stats_scan(
    chunks: DataFrame,
    terms: Sequence[str],
    *,
    text_col: str = "text",
) -> dict:
    """One shuffle-free pass computing the BM25 corpus statistics
    ``{"n": N, "avgdl": avgdl, "df": {term: df}}`` for ``terms``.

    This is the driver-side round trip ``bm25_scores_scan`` needs; callers
    issuing many queries against one corpus snapshot should call it once
    (or maintain the postings table, whose doc-length/df sides are the
    persisted form of the same numbers) and pass the result via ``stats``
    — otherwise every query pays one full-scan aggregate job.
    Zero-token docs are excluded, matching the postings path.
    """
    terms = list(dict.fromkeys(terms))
    toks = tokens(F.col(text_col))
    d = chunks.select(toks.alias("_toks")).filter(F.size("_toks") > 0)
    row = d.agg(
        F.count("*").alias("n"),
        F.avg(F.size("_toks")).alias("avgdl"),
        *[
            F.sum(F.array_contains("_toks", t).cast("long")).alias(f"df{i}")
            for i, t in enumerate(terms)
        ],
    ).first()
    return {
        "n": row["n"],
        "avgdl": float(row["avgdl"] or 0.0),
        "df": {t: (row[f"df{i}"] or 0) for i, t in enumerate(terms)},
    }


def bm25_scores_scan(
    chunks: DataFrame,
    query_terms: Sequence[str],
    *,
    id_cols: Sequence[str] = ("filePath", "chunkIndex"),
    text_col: str = "text",
    candidates: DataFrame | None = None,
    k1: float = K1,
    b: float = B,
    stats: dict | None = None,
) -> DataFrame:
    """Index-free BM25: score ``query_terms`` with NO postings table.

    Semantically identical to ``build_postings`` + ``bm25_scores`` (unigram
    tokenizer, global corpus statistics), but shaped for the ad-hoc query
    path where no prebuilt index exists:

      * one full-scan AGGREGATE computes N, avgdl, and per-term df —
        zero shuffles (partial+final agg), zero explodes;
      * tf / dl are evaluated only on the candidate rows (a broadcast semi
        join against the <= 2k vector hits — reference P3/O14,
        src/vectordb/index.ts:394-400).

    All per-row math uses codegen-friendly built-ins, no lambda HOFs:
    tf(term) = size(toks) - size(array_remove(toks, term)).

    At 100 TB: the stats pass is a pure map-side scan of one string column
    (column-pruned), and scoring touches only candidate rows. The
    postings-table path still wins when queries are frequent enough to
    amortize the index build — this path wins for one-shot queries.

    ``stats`` (from ``corpus_stats_scan``) skips the per-query stats job —
    the repeated-query shape over one corpus snapshot. Without it, the one
    eager ``.first()`` here is the known driver round trip of the
    index-free form; the fully persisted alternative is the postings path.
    """
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        # whitespace-only / empty query: no term can match any document —
        # the postings path would return an empty scores frame, so this
        # path must too (not a TypeError from filter(None) below)
        src = candidates if candidates is not None else chunks
        return src.select(
            *id_cols, F.lit(None).cast("double").alias("_score")
        ).limit(0)
    toks = tokens(F.col(text_col))
    cand = chunks.select(*id_cols, toks.alias("_toks"))
    if candidates is not None:
        cand = cand.join(
            F.broadcast(candidates.select(*id_cols)), list(id_cols), "left_semi"
        )
    cand = cand.withColumn("_dl", F.size("_toks"))

    if stats is not None:
        # precomputed snapshot stats (corpus_stats_scan / maintained index
        # side numbers): fold them in as literals — no extra scan at all
        n_col = F.lit(int(stats["n"]))
        avgdl_col = F.lit(float(stats["avgdl"] or 0.0))
        df_cols = {t: F.lit(int(stats["df"].get(t, 0))) for t in terms}
    else:
        # align with the postings path: docs that tokenize to zero tokens
        # (punctuation-only / CJK under the unigram tokenizer) contribute no
        # postings rows there, so they must not inflate N or deflate avgdl.
        # The 1-row aggregate is broadcast-cross-joined onto the candidate
        # rows instead of .first()'d to the driver: stats + scoring stay ONE
        # DAG / one job submission, and no eager round trip sits between a
        # caller's candidate materialization and the final top-k.
        stats_row = (
            chunks.select(toks.alias("_st")).filter(F.size("_st") > 0).agg(
                F.count("*").alias("__n"),
                F.coalesce(F.avg(F.size("_st")), F.lit(0.0)).alias("__avgdl"),
                *[
                    F.coalesce(
                        F.sum(F.array_contains("_st", t).cast("long")), F.lit(0)
                    ).alias(f"__df{i}")
                    for i, t in enumerate(terms)
                ],
            )
        )
        cand = cand.crossJoin(F.broadcast(stats_row))
        n_col = F.col("__n")
        avgdl_col = F.col("__avgdl")
        df_cols = {t: F.col(f"__df{i}") for i, t in enumerate(terms)}

    score = F.lit(0.0)
    for t in terms:
        df = df_cols[t]
        # when df = 0 the term contributes nothing (old driver-side skip,
        # now a column guard so stats may arrive either way). greatest(1,.)
        # floors the log argument exactly like bm25_term_score: stale
        # stats with df > n would otherwise drive it <= 0 and a NULL term
        # score would silently null the document's whole _score
        idf = F.log(F.greatest(F.lit(1.0), F.lit(1.0) + (n_col - df + 0.5) / (df + 0.5)))
        tf = _term_freq(F.col("_toks"), t)
        score = score + F.when(
            df > 0,
            idf
            * (tf * (k1 + 1))
            / (tf + k1 * (1 - b + b * F.col("_dl") / avgdl_col)),
        ).otherwise(F.lit(0.0))
    # match the postings path: only documents with >= 1 matching term score
    any_match = None
    for t in terms:
        m = F.array_contains("_toks", t)
        any_match = m if any_match is None else (any_match | m)
    return (
        cand.filter(any_match)
        .select(*id_cols, score.alias("_score"))
    )
