"""Search-family paired queries: vector top-k, grouping, BM25, hybrid boost,
neighbors, sync planning, hashing, scalar functions.

Every query has a DuckDB oracle that re-expresses the operator's semantics
in ANSI SQL over the same parquet views. The Spark side uses the operator
library (operators/search.py, operators/bm25.py, operators/sync.py) — the
SQL is the specification, the library is the scalable implementation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import bm25, search
from ..operators.sync import plan_sync
from ..functions.paths import base64url_decode, base64url_encode
from ..session import load, read_parquet
from .common import CHUNKS_CTE, chunks_df, query_vector, qvec_sql, register

TERMS = ["spark", "join", "filter", "merge"]
TERMS_SQL = "['spark','join','filter','merge']"

# shared SQL fragments ------------------------------------------------------

SCORED_CTE = f"""
scored AS (
  SELECT filePath, chunkIndex,
         round(1.0 - list_dot_product(vector::DOUBLE[], {qvec_sql(0)}), 6) + 0 AS score
  FROM chunks
)
"""

CAND_CTE = """
cand AS (
  SELECT filePath, chunkIndex, score
  FROM scored ORDER BY score, chunkIndex LIMIT 20
)
"""

# W3 grouping: gap > mean + 1.5*std boundaries, cumulative boundary count.
def _grouping_cte(cuts: int) -> str:
    return f"""
gaps AS (
  SELECT *, lead(score) OVER (ORDER BY score, chunkIndex) - score AS gap
  FROM cand
),
gstats AS (SELECT avg(gap) AS m, stddev_pop(gap) AS s FROM gaps),
flagged AS (
  SELECT g.*, CASE WHEN g.gap > gstats.m + 1.5 * gstats.s THEN 1 ELSE 0 END AS b
  FROM gaps g, gstats
),
grouped AS (
  SELECT filePath, chunkIndex, score,
         coalesce(sum(b) OVER (ORDER BY score, chunkIndex
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb
  FROM flagged
),
kept AS (SELECT filePath, chunkIndex, score FROM grouped WHERE bb < {cuts})
"""


# unigram BM25 over chunks.text (k1=1.2, b=0.75), corpus stats global.
BM25_CTE = f"""
toks AS (
  SELECT chunkIndex, t.term
  FROM chunks,
       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(term)
),
dl AS (SELECT chunkIndex, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
tf AS (SELECT chunkIndex, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
corpus AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
qterms AS (SELECT unnest({TERMS_SQL}) AS term),
dfreq AS (
  SELECT term, count(DISTINCT chunkIndex)::BIGINT AS df
  FROM tf JOIN qterms USING (term) GROUP BY 1
),
kwscore AS (
  SELECT tf.chunkIndex,
         sum( ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / corpus.avgdl)) ) AS s
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (chunkIndex), corpus
  GROUP BY 1
)
"""


# ---------------------------------------------------------------------------
# W1: flat-KNN top-k with 2x over-fetch (k=10 -> 20 candidates)

@register(
    "vector_topk",
    f"WITH {CHUNKS_CTE.strip()}, {SCORED_CTE.strip()}, {CAND_CTE.strip()} "
    "SELECT filePath, chunkIndex, score FROM cand",
)
def q_vector_topk(spark, sf_dir):
    qv = query_vector(spark, sf_dir, 0)
    hits = search.vector_topk(chunks_df(spark, sf_dir), qv, k=10, id_cols=("chunkIndex",))
    return hits.select("filePath", "chunkIndex", "score")


# W1 batched: MANY query vectors in ONE corpus scan (concurrent-serving
# shape). Per-query results must be row-identical to N separate
# vector_topk calls — the oracle scores each query independently.

@register(
    "vector_topk_batch",
    f"""WITH {CHUNKS_CTE.strip()},
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.vec_id::VARCHAR AS query_id, c.filePath, c.chunkIndex,
         round(1.0 - list_dot_product(c.vector::DOUBLE[], q.embedding::DOUBLE[]), 6) + 0 AS score
  FROM chunks c, q
)
SELECT query_id, filePath, chunkIndex, score FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, chunkIndex) <= 20
ORDER BY query_id, score, chunkIndex""",
)
def q_vector_topk_batch(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    qvecs = {
        str(r["vec_id"]): list(r["embedding"])
        for r in emb.filter(F.col("vec_id").isin(0, 1, 2))
        .select("vec_id", "embedding")
        .collect()
    }
    out = search.vector_topk_batch(
        chunks_df(spark, sf_dir), qvecs, k=10, id_cols=("chunkIndex",),
        payload_cols=("filePath",),
    )
    return out.select("query_id", "filePath", "chunkIndex", "score").orderBy(
        "query_id", "score", "chunkIndex"
    )


# P4+P5: scope (exact-or-descendant) and max-distance pushdown

@register(
    "vector_topk_scoped",
    f"""WITH {CHUNKS_CTE.strip()}, {SCORED_CTE.strip()}
SELECT filePath, chunkIndex, score
FROM scored
WHERE (filePath = '/corpus/src3' OR filePath LIKE '/corpus/src3/%')
  AND score <= 0.9
ORDER BY score, chunkIndex LIMIT 20""",
)
def q_vector_topk_scoped(spark, sf_dir):
    qv = query_vector(spark, sf_dir, 0)
    hits = search.vector_topk(
        chunks_df(spark, sf_dir), qv, k=10, id_cols=("chunkIndex",),
        scope=["/corpus/src3"], max_distance=0.9,
    )
    return hits.select("filePath", "chunkIndex", "score")


# W3: statistical relevance-gap grouping ('similar' = cut at 1st boundary)

@register(
    "grouping_similar",
    f"WITH {CHUNKS_CTE.strip()}, {SCORED_CTE.strip()}, {CAND_CTE.strip()}, "
    f"{_grouping_cte(1).strip()} SELECT filePath, chunkIndex, score FROM kept",
)
def q_grouping_similar(spark, sf_dir):
    qv = query_vector(spark, sf_dir, 0)
    hits = search.vector_topk(chunks_df(spark, sf_dir), qv, k=10, id_cols=("chunkIndex",))
    return search.grouping_filter(hits, "similar", id_cols=("chunkIndex",)).select(
        "filePath", "chunkIndex", "score"
    )


# W3 'related' mode in isolation: cut at the 2ND statistical boundary
# (src/vectordb/search-filters.ts:23-64 — 'related' keeps one more
# relevance tier than 'similar'). The flagship exercises this mode inside
# its pipeline, but the corpus's natural embedding distances carry only
# ONE boundary (nearest chunk, big gap, smooth tail) — 'related' would
# never cut. This lane pins the two-boundary semantics on a candidate
# set with THREE score tiers: deterministic dyadic scores (k/1024 —
# exact in both engines, no rounding in the contract) over documents
# rows, run through the real grouping_filter operator. 'related' must
# keep tiers 1+2 (12 rows) and cut tier 3.

_TIER_CASE_SQL = """CASE WHEN doc_id < 5 THEN doc_id / 1024.0
       WHEN doc_id < 12 THEN (512 + doc_id) / 1024.0
       ELSE (800 + doc_id) / 1024.0 END"""


@register(
    "grouping_related",
    f"""WITH cand AS (
  SELECT doc_id, {_TIER_CASE_SQL} AS score
  FROM documents WHERE doc_id < 30
),
gaps AS (
  SELECT *, lead(score) OVER (ORDER BY score, doc_id) - score AS gap
  FROM cand
),
gstats AS (SELECT avg(gap) AS m, stddev_pop(gap) AS s FROM gaps),
flagged AS (
  SELECT g.*, CASE WHEN g.gap > gstats.m + 1.5 * gstats.s THEN 1 ELSE 0 END AS b
  FROM gaps g, gstats
),
grouped AS (
  SELECT doc_id, score,
         coalesce(sum(b) OVER (ORDER BY score, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bb
  FROM flagged
)
SELECT doc_id, score FROM grouped WHERE bb < 2 ORDER BY score, doc_id""",
)
def q_grouping_related(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id").filter(
        F.col("doc_id") < 30
    )
    score = (
        F.when(F.col("doc_id") < 5, F.col("doc_id") / F.lit(1024.0))
        .when(F.col("doc_id") < 12, (F.lit(512) + F.col("doc_id")) / F.lit(1024.0))
        .otherwise((F.lit(800) + F.col("doc_id")) / F.lit(1024.0))
    )
    hits = docs.withColumn("score", score)
    kept = search.grouping_filter(hits, "related", id_cols=("doc_id",))
    return kept.select("doc_id", "score").orderBy("score", "doc_id")


# A3: the gap statistics themselves (mean / population std / count)

@register(
    "gap_stats",
    f"""WITH {CHUNKS_CTE.strip()}, {SCORED_CTE.strip()}, {CAND_CTE.strip()},
gaps AS (
  SELECT lead(score) OVER (ORDER BY score, chunkIndex) - score AS gap FROM cand
)
SELECT round(avg(gap), 6) AS mean_gap,
       round(stddev_pop(gap), 6) AS std_gap,
       count(gap)::BIGINT AS n_gaps
FROM gaps""",
)
def q_gap_stats(spark, sf_dir):
    from pyspark.sql import Window

    qv = query_vector(spark, sf_dir, 0)
    hits = search.vector_topk(chunks_df(spark, sf_dir), qv, k=10, id_cols=("chunkIndex",))
    w = Window.orderBy(F.col("score").asc(), F.col("chunkIndex").asc())
    gaps = hits.withColumn("gap", F.lead("score").over(w) - F.col("score"))
    return gaps.agg(
        F.round(F.avg("gap"), 6).alias("mean_gap"),
        F.round(F.stddev_pop("gap"), 6).alias("std_gap"),
        F.count("gap").alias("n_gaps"),
    )


# T8: BM25 keyword scoring (unigram tokenizer, global corpus stats)

@register(
    "bm25_unigram",
    f"""WITH {CHUNKS_CTE.strip()}, {BM25_CTE.strip()}
SELECT chunkIndex, round(s, 6) AS kw_score
FROM kwscore ORDER BY kw_score DESC, chunkIndex LIMIT 15""",
)
def q_bm25_unigram(spark, sf_dir):
    # index-free scan scorer (same semantics as the postings path, which
    # bm25_ngram23 exercises): one shuffle-free stats aggregate + per-row
    # array math — no postings build for a one-shot query.
    ch = chunks_df(spark, sf_dir)
    scores = bm25.bm25_scores_scan(ch, TERMS, id_cols=("chunkIndex",))
    return (
        scores.select("chunkIndex", F.round("_score", 6).alias("kw_score"))
        .orderBy(F.col("kw_score").desc(), F.col("chunkIndex").asc())
        .limit(15)
    )


# T8 at the 100 TB QUERY-side layout: the SAME scores from the TERM-
# bucketed second copy of the postings index (plans/fts.write_term_postings,
# derived once from the maintained doc-aligned copy). A query's terms map
# to a handful of tbucket partition dirs, so the scan PARTITION-prunes
# before any row is read — at scale a 4-term query touches ~4/n_buckets of
# the index instead of row-group-pruning through every doc bucket. Oracle
# is bm25_unigram's verbatim: the layout changes, the values don't.

@register(
    "bm25_term_bucketed",
    f"""WITH {CHUNKS_CTE.strip()}, {BM25_CTE.strip()}
SELECT chunkIndex, round(s, 6) AS kw_score
FROM kwscore ORDER BY kw_score DESC, chunkIndex LIMIT 15""",
)
def q_bm25_term_bucketed(spark, sf_dir):
    import os

    from ..plans.fts import read_term_postings, write_term_postings

    _, postings, stats = _indexed_corpus(spark, sf_dir)
    tpath = _scratch_path(sf_dir, "fts_term")
    if not os.path.isdir(tpath):
        write_term_postings(postings, tpath, n_buckets=16)
    termside = read_term_postings(spark, tpath, terms=TERMS)
    scores = bm25.bm25_scores(
        termside, TERMS, id_cols=("chunkIndex",), stats=stats, materialize=False
    )
    return (
        scores.select("chunkIndex", F.round("_score", 6).alias("kw_score"))
        .orderBy(F.col("kw_score").desc(), F.col("chunkIndex").asc())
        .limit(15)
    )


# J1 + T9 + A5 in isolation: boost join with a deterministic synthetic
# keyword table (kw = n_chars for every 3rd chunk), normalize by max,
# boosted = score / (1 + kw_norm * 0.6); unmatched keep their distance.

@register(
    "keyword_boost",
    f"""WITH {CHUNKS_CTE.strip()}, {SCORED_CTE.strip()}, {CAND_CTE.strip()},
kw AS (
  SELECT chunkIndex, n_chars::DOUBLE AS ks FROM chunks WHERE chunkIndex % 3 = 0
),
kwmax AS (SELECT max(ks) AS mx FROM kw),
boosted AS (
  SELECT c.filePath, c.chunkIndex,
         round(c.score / (1.0 + coalesce(kw.ks / kwmax.mx, 0.0) * 0.6), 6) + 0 AS score
  FROM cand c LEFT JOIN kw USING (chunkIndex), kwmax
)
SELECT filePath, chunkIndex, score FROM boosted""",
)
def q_keyword_boost(spark, sf_dir):
    qv = query_vector(spark, sf_dir, 0)
    ch = chunks_df(spark, sf_dir)
    hits = search.vector_topk(ch, qv, k=10, id_cols=("chunkIndex",))
    kw = ch.filter(F.col("chunkIndex") % 3 == 0).select(
        "chunkIndex", F.col("n_chars").cast("double").alias("_score")
    )
    boosted = search.keyword_boost(hits, kw, on=("chunkIndex",), weight=0.6)
    return boosted.select("filePath", "chunkIndex", "score")


# T8 with the reference's ACTUAL FTS tokenizer: ngram(2,3), no stemming
# (src/vectordb/index.ts:258-271) — CJK-safe substring matching.

NGRAM_TERMS = ["spar", "joi"]  # query ngrams come from the same tokenizer
NGRAM_TERMS_TOKENS_SQL = (
    "SELECT unnest(['sp','pa','ar','spa','par','jo','oi','joi']) AS term"
)
NGRAM_QUERY_TOKENS = ["sp", "pa", "ar", "spa", "par", "jo", "oi", "joi"]

BM25_NGRAM_SQL = f"""WITH {CHUNKS_CTE.strip()},
toks AS (
  SELECT chunkIndex, substring(lower(text), i, 2) AS term
  FROM chunks, unnest(range(1, len(text))) AS r(i)
  UNION ALL
  SELECT chunkIndex, substring(lower(text), i, 3) AS term
  FROM chunks, unnest(range(1, len(text) - 1)) AS r(i)
),
dl AS (SELECT chunkIndex, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
tf AS (SELECT chunkIndex, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
corpus AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
qterms AS ({NGRAM_TERMS_TOKENS_SQL}),
dfreq AS (
  SELECT term, count(DISTINCT chunkIndex)::BIGINT AS df
  FROM tf JOIN qterms USING (term) GROUP BY 1
),
kwscore AS (
  SELECT tf.chunkIndex,
         sum( ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / corpus.avgdl)) ) AS s
  FROM tf
  JOIN qterms USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (chunkIndex), corpus
  GROUP BY 1
)
SELECT chunkIndex, round(s, 6) AS kw_score
FROM kwscore ORDER BY kw_score DESC, chunkIndex LIMIT 15"""


@register("bm25_ngram23", BM25_NGRAM_SQL)
def q_bm25_ngram23(spark, sf_dir):
    # index-free ngram scan scorer (r15 optimization): same numbers as
    # build_postings(ngram23) + bm25_scores — which exploded every char
    # position twice and shuffled O(corpus chars) rows — from two map-only
    # passes (dl is length arithmetic, tf a native overlapping
    # regexp_count, stats one shuffle-free aggregate). The postings path
    # stays exercised by bm25_term_bucketed / hybrid_search_indexed and
    # is pinned equal in tests/test_bm25.py.
    ch = chunks_df(spark, sf_dir)
    scores = bm25.bm25_scores_ngram_scan(
        ch, NGRAM_QUERY_TOKENS, id_cols=("chunkIndex",)
    )
    return (
        scores.select("chunkIndex", F.round("_score", 6).alias("kw_score"))
        .orderBy(F.col("kw_score").desc(), F.col("chunkIndex").asc())
        .limit(15)
    )


# J3: list cross-reference — scanned files LEFT JOIN ingested summary (A1),
# with never-ingested and orphan rows visible (src/features/list.ts:31-77)

LIST_XREF_SQL = f"""WITH {CHUNKS_CTE.strip()},
scanned AS (
  SELECT '/corpus/' || source || '/doc' || doc_id || '.md' AS filePath
  FROM documents
  UNION ALL
  SELECT '/corpus/extra/doc' || doc_id || '.md' FROM documents WHERE doc_id % 9 = 0
),
ingested AS (
  SELECT filePath, count(*)::BIGINT AS chunk_count, max(n_chars) AS max_chars
  FROM chunks WHERE chunkIndex % 7 <> 0
  GROUP BY filePath
)
SELECT s.filePath,
       coalesce(i.chunk_count, 0) AS chunk_count,
       i.chunk_count IS NOT NULL AS is_ingested
FROM scanned s LEFT JOIN ingested i USING (filePath)"""


@register("list_cross_reference", LIST_XREF_SQL)
def q_list_cross_reference(spark, sf_dir):
    ch = chunks_df(spark, sf_dir)
    docs = load(spark, sf_dir, "documents")
    path = F.concat_ws(
        "", F.lit("/corpus/"), F.col("source"), F.lit("/doc"),
        F.col("doc_id").cast("string"), F.lit(".md"),
    )
    extra = docs.filter(F.col("doc_id") % 9 == 0).select(
        F.concat_ws(
            "", F.lit("/corpus/extra/doc"), F.col("doc_id").cast("string"), F.lit(".md")
        ).alias("filePath")
    )
    scanned = docs.select(path.alias("filePath")).unionByName(extra)
    ingested = (
        ch.filter(F.col("chunkIndex") % 7 != 0)
        .groupBy("filePath")
        .agg(F.count("*").alias("chunk_count"), F.max("n_chars").alias("max_chars"))
    )
    return scanned.join(ingested, "filePath", "left").select(
        "filePath",
        F.coalesce("chunk_count", F.lit(0)).alias("chunk_count"),
        F.col("chunk_count").isNotNull().alias("is_ingested"),
    )


# P6: ''<->null normalization on read (src/vectordb/types.ts:245-250)

@register(
    "null_normalization",
    """SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN ''
            WHEN doc_id % 3 = 1 THEN 'Title ' || doc_id
            ELSE NULL END AS raw_title,
       CASE WHEN length(CASE WHEN doc_id % 3 = 0 THEN ''
                             WHEN doc_id % 3 = 1 THEN 'Title ' || doc_id
                             ELSE NULL END) > 0
            THEN CASE WHEN doc_id % 3 = 1 THEN 'Title ' || doc_id END
            ELSE NULL END AS file_title
FROM documents""",
)
def q_null_normalization(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    raw = (
        F.when(F.col("doc_id") % 3 == 0, F.lit(""))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("Title "), F.col("doc_id").cast("string")))
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select(
        "doc_id",
        raw.alias("raw_title"),
        F.when(F.length(raw) > 0, raw).alias("file_title"),
    )


# A6: median pairwise cosine similarity within a sample (the reference's
# outlier-robust header/footer signal, src/parser/pdf-filter.ts:239-266)

@register(
    "median_pairwise_sim",
    """WITH sample AS (
  SELECT vec_id, embedding FROM embeddings WHERE label = 0
  ORDER BY vec_id LIMIT 40
),
pairs AS (
  SELECT round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) + 0 AS sim
  FROM sample a JOIN sample b ON a.vec_id < b.vec_id
)
SELECT round(quantile_cont(sim, 0.5), 6) AS median_sim,
       count(*)::BIGINT AS n_pairs
FROM pairs""",
)
def q_median_pairwise_sim(spark, sf_dir):
    from ..functions.vector import cosine

    emb = load(spark, sf_dir, "embeddings")
    # bounded sample by RANK, not by an id-range literal: the lowest-40
    # label-0 vec_ids are the same deterministic set under ANY id
    # distribution, and the pair count stays <= 40*39/2 at every sf
    # (mirrors the reference's fixed 5-page sample, pdf-filter.ts:239)
    sample = (
        emb.filter(F.col("label") == 0)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(40)
    )
    a = sample.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("_v1"))
    b = sample.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("_v2"))
    pairs = a.crossJoin(b).filter(F.col("id1") < F.col("id2")).select(
        (F.round(cosine(F.col("_v1"), F.col("_v2")), 6) + F.lit(0.0)).alias("sim")
    )
    return pairs.agg(
        F.round(F.percentile("sim", F.lit(0.5)), 6).alias("median_sim"),
        F.count("*").alias("n_pairs"),
    )


# T1+T3+T4 as a queries() entry: the full chunking pipeline over the
# documents table with the REAL UAX#29 splitter + pseudo embeddings.
# Sequential per doc -> no SQL oracle; rows-only check + the
# boundary_digest column + tests/test_chunking goldens pin it. The
# `chunk_documents` key itself is the hash-gated Max-Min recurrence
# below (oracle-paired), so the driver's sample window stays 50/50
# hash-green; this variant sorts last in the rotation.

@register("chunk_documents_uax29", None)
def q_chunk_documents_uax29(spark, sf_dir):
    from ..chunking.maxmin import maxmin_chunk
    from ..chunking.splitter import split_sentences_udf
    from ..embedder import embed_text_column

    docs = load(spark, sf_dir, "documents")
    sentences = (
        docs.select(
            F.col("doc_id").cast("string").alias("doc_key"),
            F.posexplode(split_sentences_udf(F.col("text"))).alias("seq", "text"),
        )
    )
    embedded = embed_text_column(sentences, "text", "vector", dim=32)
    chunks = maxmin_chunk(embedded, min_chunk_length=30)
    out = chunks.select(
        F.col("doc_key").cast("long").alias("doc_id"),
        "chunk_index",
        F.length("text").alias("chunk_len"),
        "n_sentences",
    )
    # per-doc boundary digest: md5 over the ordered (chunk_index,
    # chunk_len, n_sentences) triples. Sequential Max-Min grouping has no
    # SQL twin, so this column is the HARD check for the no-oracle entry:
    # the harness recomputes the digest from the returned rows
    # (tools/check_correctness), and pytest golden-pins exact digests on a
    # fixed corpus (tests/test_chunking). Computed as a whole-partition
    # window over the chunk rows, NOT a groupBy + join-back: both sides of
    # that join derive from the unpersisted split->embed->Max-Min Python
    # pipeline, so Catalyst planned the 3-stage pandas pipeline TWICE
    # (4 FlatMapGroupsInPandas / 8 ArrowEvalPython nodes in the r15
    # before-plan; 1 / 2 after). One exchange on doc_id replaces
    # groupBy-exchange + broadcast-join + the duplicated corpus pass.
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id")
    digest = F.md5(
        F.concat_ws(
            ",",
            F.array_sort(
                F.collect_list(
                    F.format_string(
                        "%06d:%d:%d", "chunk_index", "chunk_len", "n_sentences"
                    )
                ).over(w)
            ),
        )
    )
    return out.select(
        "doc_id", "chunk_index", "chunk_len", "n_sentences",
        digest.alias("boundary_digest"),
    )


# T4 with a REAL oracle: the full Max-Min recurrence (join rules, window
# min-sim, sigmoid scaling, force-split, min-length filter — semantic-
# chunker.ts:116-327) hash-checked against an INDEPENDENT DuckDB
# implementation (recursive CTE). The trick making the float comparisons
# bit-identical across numpy and DuckDB: sentence vectors are small
# NON-NEGATIVE INTEGERS (4x 16-bit md5 words), so every dot product and
# squared norm is exact (< 2^53) in both engines, and cos = dot /
# (sqrt(n2a) * sqrt(n2b)) is the same sequence of correctly-rounded IEEE
# ops on identical inputs. The sigmoid values (the one transcendental)
# are embedded as Python-computed literals so DuckDB's libm can't drift
# an ulp. Sentences are deterministic 8-word windows (the synthetic docs
# carry no punctuation). The `chunk_documents_uax29` entry keeps the
# real UAX#29 splitter + pseudo embeddings (rows-only check + unit
# goldens); THIS entry pins the grouping recurrence itself, under the
# `chunk_documents` key the driver samples (named chunk_documents_oracle
# through round 10).

_MM_WORDS = 8
_MM_MIN_LEN = 30


def _mm_cos_sql(x: str, y: str) -> str:
    dot = "+".join(f"{x}[{j}]*{y}[{j}]" for j in range(1, 5))
    dx = "+".join(f"{x}[{j}]*{x}[{j}]" for j in range(1, 5))
    dy = "+".join(f"{y}[{j}]*{y}[{j}]" for j in range(1, 5))
    return (
        f"(CASE WHEN ({dx}) = 0 OR ({dy}) = 0 THEN 0.0 "
        f"ELSE CAST(({dot}) AS DOUBLE) / "
        f"(sqrt(CAST(({dx}) AS DOUBLE)) * sqrt(CAST(({dy}) AS DOUBLE))) END)"
    )


def _mm_sigmoid_case() -> str:
    """sigmoid(l) literals for l in [2, 15): repr() round-trips the exact
    double maxmin.py computes with math.exp, removing the only
    cross-engine libm dependency."""
    import math

    whens = " ".join(
        f"WHEN {k} THEN {1.0 / (1.0 + math.exp(-k))!r}" for k in range(2, 15)
    )
    return f"(CASE l {whens} END)"


def _mm_join_sql() -> str:
    """The Max-Min join decision for sentence `nv` against open chunk
    `pcur` (window `w`, length `l`) — group_sentences' three rules."""
    pair_min = (
        "list_min(flatten(list_transform(range(1, len(w)), a -> "
        f"list_transform(range(a+1, len(w)+1), b -> {_mm_cos_sql('w[a]', 'w[b]')}))))"
    )
    max_sim = f"list_max(list_transform(pcur, c -> {_mm_cos_sql('c', 'nv')}))"
    return f"""(CASE
      WHEN l = 1 THEN 1.5 * {_mm_cos_sql('pcur[1]', 'nv')} > 0.6
      WHEN l >= 15 THEN FALSE
      ELSE {max_sim} >
           greatest((0.9 * {pair_min}) * {_mm_sigmoid_case()}, 0.6)
    END)"""


CHUNK_ORACLE_SQL = f"""WITH RECURSIVE
parts AS (
  SELECT doc_id, g AS pos,
         array_to_string(list_slice(ws, g*{_MM_WORDS} + 1, g*{_MM_WORDS} + {_MM_WORDS}), ' ') AS sent
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       LATERAL (SELECT unnest(range(0, (len(ws)+{_MM_WORDS - 1})//{_MM_WORDS})) AS g)
),
sv AS (
  SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS seq, sent,
         [('0x' || substr(md5(sent), 1, 4))::BIGINT,
          ('0x' || substr(md5(sent), 5, 4))::BIGINT,
          ('0x' || substr(md5(sent), 9, 4))::BIGINT,
          ('0x' || substr(md5(sent), 13, 4))::BIGINT] AS v
  FROM parts WHERE length(sent) > 0 AND regexp_matches(sent, '[a-zA-Z0-9]')
),
rec AS (
  SELECT doc_id, seq, 1 AS chunk_id, [v] AS cur
  FROM sv WHERE seq = 1
  UNION ALL
  SELECT s.doc_id, s.seq,
         CASE WHEN jn THEN r.chunk_id ELSE r.chunk_id + 1 END,
         CASE WHEN jn THEN list_append(r.cur, s.v) ELSE [s.v] END
  FROM rec r
  JOIN sv s ON s.doc_id = r.doc_id AND s.seq = r.seq + 1,
  LATERAL (SELECT len(r.cur) AS l, s.v AS nv, r.cur AS pcur,
                  list_slice(r.cur, greatest(1, len(r.cur)-4), len(r.cur)) AS w),
  LATERAL (SELECT {_mm_join_sql()} AS jn)
),
assembled AS (
  SELECT r.doc_id, r.chunk_id,
         string_agg(s.sent, ' ' ORDER BY r.seq) AS text,
         count(*) AS n_sentences
  FROM rec r JOIN sv s USING (doc_id, seq)
  GROUP BY r.doc_id, r.chunk_id
)
SELECT doc_id,
       (row_number() OVER (PARTITION BY doc_id ORDER BY chunk_id) - 1)::INT AS chunk_index,
       length(text)::BIGINT AS chunk_len,
       n_sentences::INT AS n_sentences
FROM assembled WHERE length(text) >= {_MM_MIN_LEN}
ORDER BY doc_id, chunk_index"""


@register("chunk_documents", CHUNK_ORACLE_SQL)
def q_chunk_documents(spark, sf_dir):
    from ..chunking.maxmin import maxmin_chunk

    docs = load(spark, sf_dir, "documents")

    # 8-word pseudo-sentences via pure array ops — no explode-then-
    # collect_list (whose re-assembly order Spark doesn't guarantee).
    # The word array is let-bound (word_shingles discipline) so the
    # space-split runs once per document, not once per 8-word group.
    def _groups_of(ws):
        n_groups = F.floor((F.size(ws) + F.lit(_MM_WORDS - 1)) / F.lit(_MM_WORDS))
        return F.transform(
            F.sequence(F.lit(0), n_groups.cast("int") - 1),
            lambda g: F.concat_ws(" ", F.slice(ws, g * _MM_WORDS + 1, _MM_WORDS)),
        )

    sents = docs.select(
        F.col("doc_id").cast("string").alias("doc_key"),
        F.posexplode(
            F.element_at(
                F.transform(F.array(F.split(F.col("text"), " ")), _groups_of), 1
            )
        ).alias("seq", "text"),
    ).filter((F.length("text") > 0) & F.col("text").rlike("[a-zA-Z0-9]"))
    # 4x 16-bit md5 words as the vector: non-negative integers keep every
    # dot/norm exact, so the applyInPandas operator's numpy cosines are
    # bit-identical to the oracle's
    h = F.md5("text")
    embedded = sents.withColumn(
        "vector",
        F.array(
            *[
                F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("double")
                for j in range(4)
            ]
        ),
    )
    chunks = maxmin_chunk(embedded, min_chunk_length=_MM_MIN_LEN)
    return chunks.select(
        F.col("doc_key").cast("long").alias("doc_id"),
        "chunk_index",
        F.length("text").cast("long").alias("chunk_len"),
        "n_sentences",
    )


# The flagship: full hybrid pipeline (W1 -> W3 -> T8 restricted to
# candidates -> J1/T9 boost -> W4 top-files -> final top-k).

HYBRID_SQL = f"""WITH {CHUNKS_CTE.strip()}, {SCORED_CTE.strip()}, {CAND_CTE.strip()},
{_grouping_cte(2).strip()},
{BM25_CTE.strip()},
kwcand AS (
  SELECT k.chunkIndex, k.s FROM kwscore k JOIN kept USING (chunkIndex)
),
kwmax AS (SELECT max(s) AS mx FROM kwcand),
boosted AS (
  SELECT c.filePath, c.chunkIndex,
         round(c.score / (1.0 + coalesce(k.s / kwmax.mx, 0.0) * 0.6), 6) + 0 AS score
  FROM kept c LEFT JOIN kwcand k USING (chunkIndex), kwmax
),
bestfile AS (
  SELECT filePath, min(score) AS best FROM boosted GROUP BY 1
),
topfiles AS (
  SELECT filePath FROM bestfile ORDER BY best, filePath LIMIT 3
)
SELECT b.filePath, b.chunkIndex, b.score
FROM boosted b JOIN topfiles USING (filePath)
ORDER BY b.score, b.chunkIndex LIMIT 10"""


@register("hybrid_search", HYBRID_SQL)
def q_hybrid_search(spark, sf_dir):
    qv = query_vector(spark, sf_dir, 0)
    ch = chunks_df(spark, sf_dir)
    final = search.hybrid_search(
        ch, qv, TERMS, k=10, id_cols=("chunkIndex",), grouping="related",
        weight=0.6, max_files=3,
    )
    return final.select("filePath", "chunkIndex", "score")


def _scratch_path(
    sf_dir: str, name: str, tables: tuple[str, ...] = ("documents",)
) -> str:
    """Scratch location for build-once artifacts derived from ``sf_dir``,
    keyed by the SOURCE tables' parquet mtimes so a regenerated input —
    including a partial regeneration that touches only the table the
    artifact derives from — invalidates it. Callers name the tables
    their artifact actually reads (default: the documents corpus)."""
    import os

    gen = max(
        int(os.path.getmtime(os.path.join(sf_dir, f"{t}.parquet")))
        for t in tables
    )
    tag = os.path.basename(os.path.normpath(sf_dir))
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".scratch",
    )
    return os.path.join(root, f"{name}_{tag}_{gen}")


def _indexed_corpus(spark, sf_dir):
    """Build-once, reuse-forever steady-state corpus: the persisted chunks
    table plus the persisted BM25 postings index (plans/fts — the
    reference's LanceDB table + FTS index, src/vectordb/index.ts:243-282),
    written to a scratch dir keyed by the corpus generation
    (documents.parquet mtime), so repeated queries measure INDEXED scoring
    against a stored table — not per-query index builds or the
    documents×embeddings assembly join. Returns (chunks, postings, stats).

    The postings bucket count scales with corpus size (~1.25k docs per
    bucket, the chunks-table alignment rule scaled down): a 5k-doc bench
    corpus gets 4 buckets, not the production 64 — per-query scan overhead
    is proportional to file count, and 64 near-empty buckets cost more to
    list+open than they save in pruning. Results must be IDENTICAL to the
    index-free shape — the oracle is HYBRID_SQL verbatim."""
    import os

    import pyarrow.parquet as pq

    from ..plans.fts import read_fts_stats, read_postings, write_postings

    cpath = _scratch_path(sf_dir, "chunks")
    ppath = _scratch_path(sf_dir, "fts")
    if not os.path.isdir(cpath):
        chunks_df(spark, sf_dir).write.mode("overwrite").parquet(cpath)
    # NOT spread: the exchange baked into every consumer plan (including
    # the pinned serve plans, which pay it per request) measured worse
    # than the single-split scan in the interleaved A/B (vector_serve
    # p50 2x, hybrid_search_indexed +10% raw). The postings table keeps
    # its bucket layout — that IS the access path.
    chunks = read_parquet(spark, cpath)
    if not os.path.isdir(ppath):
        n_docs = pq.ParquetFile(
            os.path.join(sf_dir, "documents.parquet")
        ).metadata.num_rows
        nb = max(4, min(64, n_docs // 1250))
        write_postings(chunks, ppath, tokenizer="unigram", n_buckets=nb)
    return chunks, read_postings(spark, ppath), read_fts_stats(ppath)


# The same flagship pipeline against the PERSISTED postings index — the
# steady-state production shape (reference: queries hit LanceDB's
# maintained FTS index, not a per-query corpus re-tokenize). Same oracle,
# same results; what changes is the physical plan: BM25 reads the bucketed
# term-sorted postings table instead of re-scanning + re-tokenizing the
# corpus, so the per-query cost drops the full-corpus stats aggregate.

@register("hybrid_search_indexed", HYBRID_SQL)
def q_hybrid_search_indexed(spark, sf_dir):
    qv = query_vector(spark, sf_dir, 0)
    ch, postings, stats = _indexed_corpus(spark, sf_dir)
    final = search.hybrid_search(
        ch, qv, TERMS, k=10, id_cols=("chunkIndex",), grouping="related",
        weight=0.6, max_files=3, postings=postings, bm25_stats=stats,
    )
    return final.select("filePath", "chunkIndex", "score")


# The full hybrid pipeline for N concurrent queries in ONE corpus scan —
# serving amortization extended from W1-only (vector_topk_batch) to the
# whole §3.1 chain: per-query BM25 boost with GLOBAL corpus statistics,
# per-query max-normalization, per-query top-files filter, per-query final
# top-k, reranked on the driver per query over its <= 2k candidate rows
# (hybrid_search's rerank). Steady-state: reads the persisted postings
# index + its table-property stats (one pruned scan shared by every
# query's terms).

_BATCH_QTERMS = {"0": ["spark", "join"], "1": ["filter", "merge"], "2": ["spark", "filter"]}

_BATCH_QTERMS_SQL = ", ".join(
    f"('{q}', '{t}')" for q, ts in sorted(_BATCH_QTERMS.items()) for t in ts
)

HYBRID_BATCH_SQL = f"""WITH {CHUNKS_CTE.strip()},
q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)),
scoredq AS (
  SELECT q.vec_id::VARCHAR AS query_id, c.filePath, c.chunkIndex,
         round(1.0 - list_dot_product(c.vector::DOUBLE[], q.embedding::DOUBLE[]), 6) + 0 AS score
  FROM chunks c, q
),
cand AS (
  SELECT query_id, filePath, chunkIndex, score FROM scoredq
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY score, chunkIndex) <= 20
),
bqterms(query_id, term) AS (VALUES {_BATCH_QTERMS_SQL}),
toks AS (
  SELECT chunkIndex, t.term
  FROM chunks,
       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(term)
),
dl AS (SELECT chunkIndex, count(*)::BIGINT AS dl FROM toks GROUP BY 1),
tf AS (SELECT chunkIndex, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
corpus AS (SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM dl),
dfreq AS (
  SELECT term, count(DISTINCT chunkIndex)::BIGINT AS df
  FROM tf WHERE term IN (SELECT DISTINCT term FROM bqterms) GROUP BY 1
),
kw AS (
  SELECT c.query_id, c.chunkIndex,
         sum( ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / corpus.avgdl)) ) AS s
  FROM cand c
  JOIN bqterms qt ON qt.query_id = c.query_id
  JOIN tf ON tf.chunkIndex = c.chunkIndex AND tf.term = qt.term
  JOIN dfreq ON dfreq.term = qt.term
  JOIN dl ON dl.chunkIndex = c.chunkIndex, corpus
  GROUP BY 1, 2
),
kwmax AS (SELECT query_id, max(s) AS mx FROM kw GROUP BY 1),
boosted AS (
  SELECT c.query_id, c.filePath, c.chunkIndex,
         round(c.score / (1.0 + coalesce(k.s / m.mx, 0.0) * 0.6), 6) + 0 AS score
  FROM cand c
  LEFT JOIN kw k ON k.query_id = c.query_id AND k.chunkIndex = c.chunkIndex
  LEFT JOIN kwmax m ON m.query_id = c.query_id
),
bestfile AS (SELECT query_id, filePath, min(score) AS best FROM boosted GROUP BY 1, 2),
topfiles AS (
  SELECT query_id, filePath FROM bestfile
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY best, filePath) <= 3
)
SELECT b.query_id, b.filePath, b.chunkIndex, b.score
FROM boosted b JOIN topfiles USING (query_id, filePath)
QUALIFY row_number() OVER (PARTITION BY b.query_id ORDER BY b.score, b.chunkIndex) <= 10
ORDER BY query_id, score, chunkIndex"""


@register("hybrid_search_batch", HYBRID_BATCH_SQL)
def q_hybrid_search_batch(spark, sf_dir):
    qvecs = {str(i): query_vector(spark, sf_dir, i) for i in (0, 1, 2)}
    ch, postings, stats = _indexed_corpus(spark, sf_dir)
    out = search.hybrid_search_batch(
        ch, qvecs, _BATCH_QTERMS, k=10, id_cols=("chunkIndex",),
        grouping=None, max_files=3, postings=postings, bm25_stats=stats,
    )
    # already in (query_id, score, chunkIndex) order: no Sort, no job
    return out.select("query_id", "filePath", "chunkIndex", "score")


# W5: neighbor frame — chunkIndex in [target-2, target+2] of one document
# (expressed over lineitem: one order's line numbers around a target line).

NEIGHBORS_SQL = """WITH target AS (
  SELECT min(l_orderkey) AS k FROM (
    SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING count(*) >= 6
  ) t
)
SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
FROM lineitem, target
WHERE l_orderkey = target.k AND l_linenumber BETWEEN 2 AND 6
ORDER BY l_linenumber"""


@register("neighbors_frame", NEIGHBORS_SQL)
def q_neighbors_frame(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    target = (
        li.groupBy("l_orderkey").count().filter(F.col("count") >= 6)
        .agg(F.min("l_orderkey")).first()[0]
    )
    return (
        li.filter((F.col("l_orderkey") == target) & F.col("l_linenumber").between(2, 6))
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
        .orderBy("l_linenumber")
    )


# S2/P2: filtered range read on the chunks view

@register(
    "range_read",
    f"""WITH {CHUNKS_CTE.strip()}
SELECT chunkIndex, n_chars FROM chunks
WHERE filePath LIKE '/corpus/src5/%' AND chunkIndex BETWEEN 100 AND 300
ORDER BY chunkIndex""",
)
def q_range_read(spark, sf_dir):
    ch = chunks_df(spark, sf_dir)
    return (
        ch.filter(
            F.col("filePath").startswith("/corpus/src5/")
            & F.col("chunkIndex").between(100, 300)
        )
        .select("chunkIndex", "n_chars")
        .orderBy("chunkIndex")
    )


# ---------------------------------------------------------------------------
# §2.7 incremental-sync planner (J2 + convergence rules) over synthetic
# disk/db manifests derived deterministically from `documents`.

SYNC_MANIFESTS_CTE = """
base AS (
  SELECT doc_id, source, text,
         '/corpus/' || source || '/doc' || doc_id || '.md' AS fp
  FROM documents
),
db AS (
  SELECT fp AS filePath, lower(fp) AS key, source,
         CASE WHEN doc_id % 17 = 0 THEN NULL
              ELSE md5(text || CASE WHEN doc_id % 13 = 0 THEN ':stale' ELSE '' END)
         END AS hash
  FROM base WHERE doc_id % 10 <> 7
  UNION ALL
  SELECT upper(fp), lower(fp), source, md5(text)
  FROM base WHERE doc_id % 10 <> 7 AND doc_id % 23 = 0
),
disk AS (
  SELECT lower(fp) AS key, md5(text) AS hash
  FROM base WHERE doc_id % 11 <> 3 AND source <> 'src0'
)
"""

SYNC_PLAN_SQL = f"""WITH {SYNC_MANIFESTS_CTE.strip()},
db_agg AS (
  SELECT d.key,
         count(DISTINCT d.filePath)::BIGINT AS n_spellings,
         count(*) FILTER (WHERE d.hash IS NULL)::BIGINT AS n_null_hash,
         count(*) FILTER (WHERE k.hash IS NOT NULL
                          AND d.hash IS DISTINCT FROM k.hash)::BIGINT AS n_mismatch,
         max(d.source) AS source
  FROM db d LEFT JOIN disk k ON d.key = k.key
  GROUP BY d.key
),
plan AS (
  SELECT coalesce(a.key, k.key) AS key,
         CASE WHEN a.key IS NULL THEN 'upsert_new'
              WHEN k.key IS NULL AND a.source = 'src0' THEN 'keep_excluded'
              WHEN k.key IS NULL THEN 'prune'
              WHEN a.n_spellings > 1 OR a.n_null_hash > 0 OR a.n_mismatch > 0
                   THEN 'upsert'
              ELSE 'skip' END AS action
  FROM db_agg a FULL OUTER JOIN disk k ON a.key = k.key
)
SELECT key, action FROM plan"""


def _sync_manifests(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", "text",
        F.concat_ws(
            "", F.lit("/corpus/"), F.col("source"), F.lit("/doc"),
            F.col("doc_id").cast("string"), F.lit(".md"),
        ).alias("fp"),
    )
    db_main = base.filter(F.col("doc_id") % 10 != 7).select(
        F.col("fp").alias("filePath"),
        F.lower("fp").alias("key"),
        "source",
        F.when(F.col("doc_id") % 17 == 0, F.lit(None).cast("string")).otherwise(
            F.md5(
                F.concat(
                    F.col("text"),
                    F.when(F.col("doc_id") % 13 == 0, F.lit(":stale")).otherwise(F.lit("")),
                )
            )
        ).alias("hash"),
    )
    db_alias = (
        base.filter((F.col("doc_id") % 10 != 7) & (F.col("doc_id") % 23 == 0))
        .select(
            F.upper("fp").alias("filePath"),
            F.lower("fp").alias("key"),
            "source",
            F.md5("text").alias("hash"),
        )
    )
    db = db_main.unionByName(db_alias)
    disk = base.filter((F.col("doc_id") % 11 != 3) & (F.col("source") != "src0")).select(
        F.lower("fp").alias("key"), F.md5("text").alias("hash")
    )
    return db, disk


@register("sync_plan", SYNC_PLAN_SQL)
def q_sync_plan(spark, sf_dir):
    db, disk = _sync_manifests(spark, sf_dir)
    return plan_sync(db, disk, excluded_sources=["src0"]).select("key", "action")


@register(
    "sync_counters",
    f"WITH plan_q AS ({SYNC_PLAN_SQL}) "
    "SELECT action, count(*)::BIGINT AS n FROM plan_q GROUP BY action",
)
def q_sync_counters(spark, sf_dir):
    db, disk = _sync_manifests(spark, sf_dir)
    plan = plan_sync(db, disk, excluded_sources=["src0"])
    return plan.groupBy("action").agg(F.count("*").alias("n"))


# T13: content-hash change detection (sha-256 of document bytes)

@register(
    "content_hash",
    "SELECT doc_id, sha256(text) AS content_hash FROM documents",
)
def q_content_hash(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", F.sha2("text", 256).alias("content_hash"))


# §2.8 scalar-function battery: quote-escape, truncate+ellipsis, whitespace
# normalization, base64url source identity round-trip.

@register(
    "scalar_funcs",
    r"""SELECT doc_id,
       length(replace(text, '''', '''''')) AS esc_len,
       CASE WHEN length(text) > 120 THEN substring(text, 1, 120) || '…'
            ELSE text END AS truncated,
       regexp_replace(trim(text), '\s+', ' ', 'g') AS norm_ws,
       rtrim(translate(to_base64(source::BLOB), '+/', '-_'), '=') AS source_key,
       from_base64(translate(rtrim(translate(to_base64(source::BLOB), '+/', '-_'), '='), '-_', '+/')
                   || repeat('=', (4 - length(rtrim(translate(to_base64(source::BLOB), '+/', '-_'), '=')) % 4) % 4)
       )::VARCHAR AS source_back
FROM documents""",
)
def q_scalar_funcs(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    key = base64url_encode(F.col("source"))
    return docs.select(
        "doc_id",
        F.length(F.regexp_replace("text", "'", "''")).alias("esc_len"),
        F.when(
            F.length("text") > 120, F.concat(F.substring("text", 1, 120), F.lit("…"))
        ).otherwise(F.col("text")).alias("truncated"),
        F.regexp_replace(F.trim(F.col("text")), "\\s+", " ").alias("norm_ws"),
        key.alias("source_key"),
        base64url_decode(key).alias("source_back"),
    )
