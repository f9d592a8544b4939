"""Training-data-pipeline paired queries: dedup (exact / MinHash-LSH /
SimHash / Jaccard / embedding-cosine), similarity search (brute-force KNN
and cluster-pruned IVF), and text analytics (lang-ID, quality, tokens,
fingerprints).

The dedup corpus plants exact copies (doc_id + 1_000_000 for every 50th
doc) so duplicate groups provably exist; all hashing is md5 of
deterministic strings, reproducible bit-for-bit in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import dedup, similarity
from ..session import load, spread
from .common import REGISTRY, register

# ---------------------------------------------------------------------------
# shared corpus with planted duplicates

def _dedup_corpus(spark, sf_dir):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    # spread: every dedup lane roots a map-heavy stream here (tokenize,
    # shingle explode, md5, simhash bit math) that the single-split scan
    # would otherwise run on ONE core; all consumers are hash/aggregate
    # shaped, i.e. partition-invariant (session.spread).
    return spread(docs.unionByName(planted))


CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
)
"""

SHINGLES_CTE = """
tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM corpus
),
shingles AS (
  SELECT DISTINCT doc_id,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM tokd, unnest(range(1, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 3
)
"""

def _sigs_cte() -> str:
    """MinHash/band CTEs generated from the SAME constants as operators/dedup.py."""
    p = dedup.P_MINHASH
    sig_exprs = ",\n         ".join(
        f"min(({dedup.MINHASH_A[i]} * h + {dedup.MINHASH_B[i]}) % {p}) AS sig{i}"
        for i in range(dedup.N_HASHES)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"sig{b * dedup.BAND_SIZE + j}" for j in range(dedup.BAND_SIZE)
            ),
        )
        for b in range(dedup.N_HASHES // dedup.BAND_SIZE)
    )
    return f"""
sigh AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {p} AS h
  FROM shingles
),
sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM sigh GROUP BY doc_id
),
bands AS (
{band_selects}
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id
)
"""


SIGS_CTE = _sigs_cte()


@register(
    "dedup_exact",
    f"""WITH {CORPUS_CTE.strip()},
h AS (SELECT doc_id, md5(text) AS content_hash FROM corpus),
g AS (SELECT content_hash, count(*)::BIGINT AS dup_count, min(doc_id) AS representative
      FROM h GROUP BY content_hash)
SELECT content_hash, dup_count, representative FROM g WHERE dup_count > 1""",
)
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_duplicates(_dedup_corpus(spark, sf_dir))


@register(
    "dedup_minhash_lsh",
    f"WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()} "
    "SELECT id1, id2 FROM pairs",
)
def q_dedup_minhash_lsh(spark, sf_dir):
    # minhash_signatures_docs: map-only shingle stream (no distinct — min
    # is duplicate-insensitive) + one partial-aggregated groupBy(id); the
    # old shingle distinct was the pipeline's largest shuffle (moving the
    # whole exploded stream) and bought nothing. 100x replica: 14.0 s ->
    # 11.2 s, 10x->100x exponent 0.52 -> 0.46, pair set identical.
    return dedup.lsh_candidate_pairs(
        dedup.minhash_signatures_docs(_dedup_corpus(spark, sf_dir))
    )


# The SAME pair set from the persisted band-bucketed layout
# (plans/dedup_index.write_band_index — the bm25_term_bucketed trick
# applied to dedup): shingle+sign paid once at index build, candidate
# generation is ONE grouped pass over the narrow band table instead of
# the end-to-end pipeline's two-sided self-join. Oracle is
# dedup_minhash_lsh's verbatim — the layout changes, the pairs don't.

@register(
    "dedup_minhash_banded",
    f"WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()} "
    "SELECT id1, id2 FROM pairs",
)
def q_dedup_minhash_banded(spark, sf_dir):
    import os

    from ..plans.dedup_index import banded_candidate_pairs, write_band_index
    from .rag import _scratch_path

    path = _scratch_path(sf_dir, "dedup_bands", tables=("documents",))
    if not os.path.isdir(path):
        write_band_index(_dedup_corpus(spark, sf_dir), path)
    return banded_candidate_pairs(spark, path)


# Signature-agreement Jaccard ESTIMATE over the LSH candidates: the
# verification tier that never re-touches shingles — two equi-joins
# against the narrow signature table, O(pairs x 16), vs dedup_jaccard's
# O(pairs x shingles) intersection join. matches/16 is a 1/16 multiple
# (exactly representable in binary FP), so the contract carries no float
# round at all.

_SIG_MATCH_SQL = " + ".join(
    f"CASE WHEN s1.sig{i} = s2.sig{i} THEN 1 ELSE 0 END"
    for i in range(dedup.N_HASHES)
)


@register(
    "dedup_minhash_estimate",
    f"""WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()}
SELECT p.id1, p.id2,
       ({_SIG_MATCH_SQL})::DOUBLE / {dedup.N_HASHES} AS est_jaccard
FROM pairs p
JOIN sigs s1 ON s1.doc_id = p.id1
JOIN sigs s2 ON s2.doc_id = p.id2
ORDER BY p.id1, p.id2""",
)
def q_dedup_minhash_estimate(spark, sf_dir):
    sigs = dedup.minhash_signatures_docs(_dedup_corpus(spark, sf_dir)).persist()
    sigs.count()
    pairs = dedup.lsh_candidate_pairs(sigs)
    return dedup.minhash_jaccard_estimate(pairs, sigs).orderBy("id1", "id2")


# Incremental LSH: new docs (doc_id % 10 = 0 plays the "arriving batch")
# band-join against the persisted corpus signatures — candidates touching
# >= 1 new doc. Deterministic signatures make this exactly the full run's
# pair set restricted to new members, which is what the oracle selects.

@register(
    "dedup_minhash_incremental",
    f"WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()} "
    "SELECT id1, id2 FROM pairs WHERE id1 % 10 = 0 OR id2 % 10 = 0",
)
def q_dedup_minhash_incremental(spark, sf_dir):
    corpus = _dedup_corpus(spark, sf_dir)
    new = corpus.filter(F.col("doc_id") % 10 == 0)
    old = corpus.filter(F.col("doc_id") % 10 != 0)
    new_sigs = dedup.minhash_signatures_docs(new)
    old_sigs = dedup.minhash_signatures_docs(old)
    return dedup.incremental_candidate_pairs(new_sigs, old_sigs)


@register(
    "dedup_jaccard",
    f"""WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()},
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.id1, p.id2, count(*)::BIGINT AS c
  FROM pairs p
  JOIN shingles s1 ON s1.doc_id = p.id1
  JOIN shingles s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
  GROUP BY p.id1, p.id2
),
jac AS (
  SELECT i.id1, i.id2,
         round(i.c::DOUBLE / (n1.n + n2.n - i.c), 6) AS jaccard
  FROM inter i
  JOIN sizes n1 ON n1.doc_id = i.id1
  JOIN sizes n2 ON n2.doc_id = i.id2
)
SELECT id1, id2, jaccard FROM jac WHERE jaccard >= 0.7""",
)
def q_dedup_jaccard(spark, sf_dir):
    # ONE shuffle builds the packed set + signature profile (r16,
    # dedup.doc_profiles) — the old prefix paid three passes over the
    # exploded shingle stream (distinct, minhash agg, size/collect agg)
    prof = dedup.doc_profiles(_dedup_corpus(spark, sf_dir)).persist()
    prof.count()
    pairs = dedup.lsh_candidate_pairs(prof).persist()
    pairs.count()
    return dedup.jaccard_verify_sets(pairs, prof.select("doc_id", "_sh"), threshold=0.7)


# Duplicate-GROUP clustering: connected components over the verified pairs,
# every member labeled with its component's minimum doc_id — the form a
# training pipeline consumes ("keep cluster representative, drop the rest").
# Spark side is iterative min-label propagation (one keyed join + aggregate
# per round, O(diameter) rounds); the oracle is a recursive CTE computing
# min reachable id — different algorithms, identical fixpoint.

_JACCARD_PAIRS_CTES = f"""{CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()},
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.id1, p.id2, count(*)::BIGINT AS c
  FROM pairs p
  JOIN shingles s1 ON s1.doc_id = p.id1
  JOIN shingles s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
  GROUP BY p.id1, p.id2
),
jpairs AS (
  SELECT i.id1, i.id2
  FROM inter i
  JOIN sizes n1 ON n1.doc_id = i.id1
  JOIN sizes n2 ON n2.doc_id = i.id2
  WHERE round(i.c::DOUBLE / (n1.n + n2.n - i.c), 6) >= 0.7
)"""


@register(
    "dedup_clusters",
    f"""WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT id1 AS src, id2 AS dst FROM jpairs
  UNION
  SELECT id2, id1 FROM jpairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(lab)::BIGINT AS cluster_id
FROM reach GROUP BY id""",
)
def q_dedup_clusters(spark, sf_dir):
    prof = dedup.doc_profiles(_dedup_corpus(spark, sf_dir)).persist()
    prof.count()
    pairs = dedup.lsh_candidate_pairs(prof).persist()
    pairs.count()
    verified = dedup.jaccard_verify_sets(
        pairs, prof.select("doc_id", "_sh"), threshold=0.7
    )
    labels = dedup.connected_components(verified)
    return labels.select(
        F.col("id").alias("doc_id"), F.col("label").cast("bigint").alias("cluster_id")
    )


# The decision artifact a training pipeline actually consumes: every doc
# labeled keep/drop, duplicates pointing at their cluster representative
# (min doc_id). Docs in no cluster keep themselves. LEFT join of the
# corpus against the cluster labels — one extra broadcastable join over
# the dedup_clusters output.

@register(
    "dedup_keep_list",
    f"""WITH RECURSIVE {_JACCARD_PAIRS_CTES},
edges AS (
  SELECT id1 AS src, id2 AS dst FROM jpairs
  UNION
  SELECT id2, id1 FROM jpairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (SELECT id, min(lab)::BIGINT AS cluster_id FROM reach GROUP BY id)
SELECT c.doc_id,
       coalesce(l.cluster_id, c.doc_id)::BIGINT AS representative,
       (l.cluster_id IS NULL OR l.cluster_id = c.doc_id) AS keep
FROM corpus c LEFT JOIN labels l ON l.id = c.doc_id
ORDER BY c.doc_id""",
)
def q_dedup_keep_list(spark, sf_dir):
    corpus = _dedup_corpus(spark, sf_dir)
    prof = dedup.doc_profiles(corpus).persist()
    prof.count()
    pairs = dedup.lsh_candidate_pairs(prof).persist()
    pairs.count()
    verified = dedup.jaccard_verify_sets(
        pairs, prof.select("doc_id", "_sh"), threshold=0.7
    )
    labels = dedup.connected_components(verified)
    return (
        corpus.select("doc_id")
        .join(labels.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id"))
            .cast("bigint")
            .alias("representative"),
            (
                F.col("label").isNull() | (F.col("label") == F.col("doc_id"))
            ).alias("keep"),
        )
        .orderBy("doc_id")
    )


def _simhash_sql() -> str:
    digits = ",\n         ".join(
        f"{e} AS d{i}" for i, e in enumerate(dedup.digit_exprs("duckdb"))
    )
    sums = ",\n         ".join(
        f"{e} AS s{j}" for j, e in enumerate(dedup.bit_sum_exprs("duckdb"))
    )
    return f"""WITH {CORPUS_CTE.strip()},
tf AS (
  SELECT doc_id, t.tok, count(*)::BIGINT AS tf, md5(t.tok) AS h
  FROM corpus,
       unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                          x -> x <> '')) AS t(tok)
  GROUP BY doc_id, t.tok
),
digits AS (
  SELECT doc_id, tf,
         {digits}
  FROM tf
),
sums AS (
  SELECT doc_id,
         {sums}
  FROM digits GROUP BY doc_id
)
SELECT doc_id, ({dedup.assemble_expr()}) AS simhash
FROM sums"""


_SIMHASH_SQL = _simhash_sql()


@register("dedup_simhash", _SIMHASH_SQL)
def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(_dedup_corpus(spark, sf_dir))


# SimHash near-dup PAIRS: the Spark side uses pigeonhole band blocking
# (4 disjoint 8-bit bands; hamming <= 3 guarantees an equal band), so the
# quadratic step is per-bucket; the oracle brute-forces all pairs — tiny
# at the check scale — and must agree exactly.

@register(
    "dedup_simhash_pairs",
    f"""WITH sims AS ({_SIMHASH_SQL}
)
SELECT a.doc_id AS id1, b.doc_id AS id2,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id1, id2""",
)
def q_dedup_simhash_pairs(spark, sf_dir):
    sigs = dedup.simhash(_dedup_corpus(spark, sf_dir)).persist()
    sigs.count()
    return (
        dedup.simhash_near_pairs(sigs, max_hamming=3)
        .select("id1", "id2", F.col("hamming").cast("bigint").alias("hamming"))
        .orderBy("id1", "id2")
    )


_COS_PAIR = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


@register(
    "dedup_embedding_cosine",
    f"""WITH scored AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2, round({_COS_PAIR}, 6) + 0 AS cos
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id1, id2, cos FROM scored WHERE cos >= 0.9""",
)
def q_dedup_embedding_cosine(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dups(emb, threshold=0.9)


# ---------------------------------------------------------------------------
# similarity search

_QSET = "(0, 1, 2)"


@register(
    "knn_bruteforce",
    f"""WITH q AS (SELECT vec_id AS query_id, embedding, label FROM embeddings
           WHERE vec_id IN {_QSET}),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0 AS cos
  FROM embeddings b, q
  WHERE b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10""",
)
def q_knn_bruteforce(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_knn(q, emb, k=10)


@register(
    "knn_ivf_probe",
    f"""WITH q AS (SELECT vec_id AS query_id, embedding, label FROM embeddings
           WHERE vec_id IN {_QSET}),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0 AS cos
  FROM embeddings b JOIN q ON b.label = q.label
  WHERE b.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""",
)
def q_knn_ivf_probe(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    return similarity.cosine_knn(q, emb, k=5, block_col="label")


# Hyperplane-LSH ANN (sign-LSH): the bucketed scale path that needs no
# trained model — deterministic seeded planes let the DuckDB oracle carry
# the SAME planes as literal arrays and reproduce signature, probe set,
# and ranking exactly. 6 planes -> 64 buckets; each query probes its own
# bucket + all Hamming-1 flips.

def _lsh_planes():
    import numpy as np  # noqa: F401

    from ..operators.similarity import hyperplane_planes

    return hyperplane_planes(6, 64, seed=42)


def _lsh_sig_sql() -> str:
    planes = _lsh_planes()
    cases = []
    for i, row in enumerate(planes):
        arr = "[" + ", ".join(repr(float(x)) for x in row) + "]"
        cases.append(
            f"CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) > 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    return "(" + " + ".join(cases) + ")"


_LSH_PROBES = "[qsig, " + ", ".join(f"xor(qsig, {1 << i})" for i in range(6)) + "]"

@register(
    "knn_lsh_hyperplane",
    f"""WITH sigs AS (
  SELECT vec_id, embedding, {_lsh_sig_sql()} AS sig FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qemb, sig AS qsig
      FROM sigs WHERE vec_id IN {_QSET}),
probes AS (
  SELECT query_id, qemb, unnest({_LSH_PROBES}) AS bucket FROM q
),
scored AS (
  SELECT p.query_id, s.vec_id AS neighbor_id,
         round(list_dot_product(s.embedding::DOUBLE[], p.qemb::DOUBLE[]) /
               (sqrt(list_dot_product(s.embedding::DOUBLE[], s.embedding::DOUBLE[])) *
                sqrt(list_dot_product(p.qemb::DOUBLE[], p.qemb::DOUBLE[]))), 6) + 0 AS cos
  FROM probes p JOIN sigs s ON s.sig = p.bucket
  WHERE s.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""",
)
def q_knn_lsh_hyperplane(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_knn(q, emb, _lsh_planes(), k=5)


# ---------------------------------------------------------------------------
# text analytics

_MARKERS_SQL = {
    lang: "[" + ",".join(f"'{m}'" for m in TX.LANG_MARKERS[lang]) + "]"
    for lang in TX.LANG_MARKERS
}

_LANGID_SQL = f"""WITH tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
scores AS (
  SELECT doc_id,
         len(list_filter(toks, t -> list_contains({_MARKERS_SQL['en']}, t)))::BIGINT AS s_en,
         len(list_filter(toks, t -> list_contains({_MARKERS_SQL['es']}, t)))::BIGINT AS s_es,
         len(list_filter(toks, t -> list_contains({_MARKERS_SQL['de']}, t)))::BIGINT AS s_de,
         len(list_filter(toks, t -> list_contains({_MARKERS_SQL['fr']}, t)))::BIGINT AS s_fr
  FROM tokd
)
SELECT doc_id,
       CASE WHEN greatest(s_en, s_es, s_de, s_fr) <= 0 THEN 'und'
            WHEN s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
            WHEN s_en > s_es AND s_en > s_fr THEN 'en'
            WHEN s_es > s_fr THEN 'es'
            ELSE 'fr' END AS pred_lang
FROM scores"""


@register("text_langid", _LANGID_SQL)
def q_text_langid(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.predict_lang(F.col("text")).alias("pred_lang"))


@register(
    "text_quality",
    r"""WITH base AS (
  SELECT doc_id, text, length(text) AS n,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
         length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS n_alnum_sp
  FROM documents
)
SELECT doc_id,
       round( 0.4 * least(n::DOUBLE / 500.0, 1.0)
            + 0.3 * (CASE WHEN len(toks) > 0
                          THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END)
            + 0.3 * (1.0 - (CASE WHEN n > 0
                                 THEN (n - n_alnum_sp)::DOUBLE / n ELSE 0.0 END)), 6) AS quality
FROM base""",
)
def q_text_quality(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(TX.quality_score(F.col("text")), 6).alias("quality")
    )


@register(
    "text_token_stats",
    r"""SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS bpe_tokens
FROM documents""",
)
def q_text_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.whitespace_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        TX.bpe_token_count(F.col("text")).cast("long").alias("bpe_tokens"),
    )


@register(
    "text_fingerprint",
    """SELECT doc_id,
       md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                               ' +', ' ', 'g'))) AS fingerprint
FROM documents""",
)
def q_text_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.fingerprint(F.col("text")).alias("fingerprint"))


# Embedding analytics: per-label centroid, one row per (label, dimension).
# posexplode keeps the dimension math JVM-side; at scale this is one
# shuffle keyed by (label, dim) with partial aggregation — the standard
# shape for class prototypes / embedding-drift monitoring in a training
# pipeline. Exact DECIMAL mean keeps both engines bit-equal.

@register(
    "embedding_centroids",
    """WITH expl AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
)
SELECT label, dim::BIGINT AS dim,
       round(CAST(avg(CAST(x AS DECIMAL(18,9))) AS DOUBLE), 6) + 0.0 AS centroid,
       count(*)::BIGINT AS n
FROM expl GROUP BY label, dim
ORDER BY label, dim""",
)
def q_embedding_centroids(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (F.round(F.avg(F.col("x").cast("decimal(18,9)")).cast("double"), 6) + 0.0).alias(
                "centroid"
            ),
            F.count("*").alias("n"),
        )
        .select("label", F.col("dim").cast("bigint").alias("dim"), "centroid", "n")
        .orderBy("label", "dim")
    )


# Nearest-centroid assignment + confusion counts: the evaluation shape of
# similarity search (assign every vector to the closest label prototype,
# tabulate true-label x assigned-label). Centroids are the exact-decimal
# rounded means from embedding_centroids, so both engines score against
# bit-identical prototypes; the dot product folds dimensions in ascending
# order on both sides; ties break on assigned label.
# Scale shape: centroids are a broadcast (labels x dim, tiny); assignment
# is map-side math over the vector scan; the confusion tabulation is one
# partial+final aggregate — the same plan as IVF assignment at 100 TB.

@register(
    "embedding_confusion",
    """WITH expl AS (
  SELECT label, vec_id, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
),
cent AS (
  SELECT label AS c_label, dim,
         round(CAST(avg(CAST(x AS DECIMAL(18,9))) AS DOUBLE), 6) + 0.0 AS c
  FROM expl GROUP BY c_label, dim
),
cvec AS (
  SELECT c_label, list(c ORDER BY dim) AS cv FROM cent GROUP BY c_label
),
scored AS (
  SELECT e.vec_id, e.label, c.c_label,
         round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.cv), 6) + 0.0 AS dist
  FROM embeddings e, cvec c
),
assigned AS (
  SELECT vec_id, label, c_label,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rk
  FROM scored
)
SELECT label, c_label AS assigned_label, count(*)::BIGINT AS n
FROM assigned WHERE rk = 1
GROUP BY label, assigned_label
ORDER BY label, assigned_label""",
)
def q_embedding_confusion(spark, sf_dir):
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy(F.col("label").alias("c_label"), "dim")
        .agg(
            (F.round(F.avg(F.col("x").cast("decimal(18,9)")).cast("double"), 6) + 0.0).alias("c")
        )
    )
    cvec = cent.groupBy("c_label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), F.col("cv"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = e.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "label", "c_label", (F.round(F.lit(1.0) - dot, 6) + 0.0).alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "c_label")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("label", F.col("c_label").alias("assigned_label"))
        .agg(F.count("*").alias("n"))
        .orderBy("label", "assigned_label")
    )


# CUBE grouping sets over document metadata: all four (source, lang)
# grouping combinations in one pass — the marginal-totals companion to
# events_rollup. NULL group keys are coalesced to sentinels so the
# value-hash compare never sees engine-specific null encodings.

@register(
    "documents_cube",
    """SELECT coalesce(source, '<all>') AS source,
       coalesce(lang, '<all>') AS lang,
       grouping(source)::BIGINT AS g_source,
       grouping(lang)::BIGINT AS g_lang,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM documents
GROUP BY CUBE(source, lang)
ORDER BY g_source, g_lang, source, lang""",
)
def q_documents_cube(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.cube("source", "lang")
        .agg(
            F.grouping("source").cast("bigint").alias("g_source"),
            F.grouping("lang").cast("bigint").alias("g_lang"),
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "g_source",
            "g_lang",
            "n_docs",
            "total_chars",
        )
        .orderBy("g_source", "g_lang", "source", "lang")
    )


# Fixed-width histogram of document lengths: the data-profiling scan every
# corpus audit starts with. Bucket = floor(n_chars / 100) in integer math
# (identical on both engines); one partial+final aggregate.

@register(
    "documents_length_histogram",
    """SELECT (n_chars // 100)::BIGINT AS bucket,
       (n_chars // 100)::BIGINT * 100 AS bucket_lo,
       count(*)::BIGINT AS n,
       round(count(*) * 100.0 / (SELECT count(*) FROM documents), 6) AS pct
FROM documents
GROUP BY n_chars // 100 ORDER BY bucket""",
)
def q_documents_length_histogram(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    total = d.count()
    b = F.floor(F.col("n_chars") / 100).cast("bigint")
    return (
        d.groupBy(b.alias("bucket"))
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 100).alias("bucket_lo"),
            "n",
            F.round(F.col("n") * 100.0 / F.lit(total), 6).alias("pct"),
        )
        .orderBy("bucket")
    )


# Caption post-processing math (T12, captioners/shared.ts:96-127) under the
# oracle: synthesize a dirty caption per document (leading/trailing space,
# an embedded BEL control char, doubled text so long docs cross the
# 1000-char cap), run the production column expressions, compare against
# the SQL-derived template.

@register(
    "caption_postprocess",
    r"""WITH raw AS (
  SELECT doc_id, ' ' || text || chr(7) || text || ' ' AS cap FROM documents
),
stripped AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(cap, '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g'),
           '^\s+|\s+$', '', 'g') AS s
  FROM raw
)
SELECT doc_id,
       CASE WHEN length(s) > 1000 THEN substring(s, 1, 1000) || '…' ELSE s END AS caption
FROM stripped""",
)
def q_caption_postprocess(spark, sf_dir):
    from ..operators.multimodal import post_process_caption

    docs = load(spark, sf_dir, "documents")
    raw = F.concat(F.lit(" "), F.col("text"), F.lit("\x07"), F.col("text"), F.lit(" "))
    return docs.select("doc_id", post_process_caption(raw).alias("caption"))


# Multi-probe IVF under the oracle: probe the 2 nearest per-label centroids
# (exact-decimal means rounded to 6, so both engines probe from
# bit-identical centers; probe distance rounded to 6 with a label
# tiebreak), then cosine top-k restricted to the probed clusters. This
# registers the ANN *scale path* in the correctness gate, not just the
# exact form.

@register(
    "knn_ivf_multiprobe",
    """WITH expl AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
),
cent AS (
  SELECT label AS c_label, dim,
         round(CAST(avg(CAST(x AS DECIMAL(18,9))) AS DOUBLE), 6) + 0.0 AS c
  FROM expl GROUP BY c_label, dim
),
cvec AS (
  SELECT c_label, list(c ORDER BY dim) AS cv FROM cent GROUP BY c_label
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id IN (0, 1, 2)),
probe AS (
  SELECT query_id, c_label AS label FROM (
    SELECT q.query_id, c.c_label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_distance(q.embedding::DOUBLE[], c.cv), 6), c.c_label
           ) AS rk
    FROM q, cvec c) t
  WHERE rk <= 2
),
scored AS (
  SELECT p.query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0 AS cos
  FROM probe p
  JOIN embeddings b ON b.label = p.label
  JOIN q ON q.query_id = p.query_id
  WHERE b.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, cos FROM scored
QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 5""",
)
def q_knn_ivf_multiprobe(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_knn(
        _ivf_probe_frame(spark, emb), emb, k=5, block_col="label"
    )


def _ivf_probe_frame(spark, emb, *, qids=(0, 1, 2), n_probes=2):
    """Probe frame for multi-probe IVF: per query, one row per probed
    cluster (the ``n_probes`` nearest per-label centroids by exact-decimal
    mean, distance rounded to 6 with a label tiebreak) carrying the query
    vector. Feeding it to ``cosine_knn(..., block_col='label')`` searches
    the union of probed clusters; the final window merges probes."""
    import numpy as np

    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(
            (F.round(F.avg(F.col("x").cast("decimal(18,9)")).cast("double"), 6) + 0.0).alias("c")
        )
        .collect()
    )
    centers: dict[int, dict[int, float]] = {}
    for r in cent:
        centers.setdefault(r["label"], {})[r["dim"]] = r["c"]
    center_mat = {
        lbl: np.array([dims[d] for d in sorted(dims)], dtype=np.float64)
        for lbl, dims in centers.items()
    }

    q_rows = emb.filter(F.col("vec_id").isin(*qids)).select(
        "vec_id", "embedding"
    ).collect()
    probes = []
    for r in q_rows:
        qv = np.asarray(r["embedding"], dtype=np.float64)
        ranked = sorted(
            center_mat,
            key=lambda lbl: (round(float(np.linalg.norm(center_mat[lbl] - qv)), 6), lbl),
        )
        for lbl in ranked[:n_probes]:
            probes.append((r["vec_id"], int(lbl), [float(x) for x in qv]))
    return spark.createDataFrame(
        probes, "query_id long, label int, embedding array<double>"
    )


# Data profiling: the one-pass table summary every pipeline runs before
# training (null counts, cardinalities, numeric moments). One partial+final
# aggregate, no shuffle beyond it; exact distinct counts here because the
# compare needs determinism — at 100 TB swap approx_count_distinct.

@register(
    "documents_profile",
    """SELECT count(*)::BIGINT AS n_rows,
       sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_text,
       sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS null_lang,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT source)::BIGINT AS n_sources,
       min(n_chars)::BIGINT AS min_chars,
       max(n_chars)::BIGINT AS max_chars,
       round(avg(n_chars), 6) AS avg_chars,
       round(CAST(stddev_pop(n_chars) AS DOUBLE), 6) AS std_chars
FROM documents""",
)
def q_documents_profile(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("text").isNull(), 1).otherwise(0)).alias("null_text"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0)).alias("null_lang"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.round(F.stddev_pop("n_chars"), 6).alias("std_chars"),
    )


# ---------------------------------------------------------------------------
# Corpus curation operators: deterministic splits, sequence packing,
# benchmark decontamination — the steps between "deduped corpus" and
# "training shards" in a large-scale data pipeline.


@register(
    "corpus_split_assign",
    """WITH assigned AS (
  SELECT lang,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::BIGINT AS h,
         n_chars
  FROM documents
)
SELECT CASE WHEN h < 230 THEN 'train'
            WHEN h < 243 THEN 'val'
            ELSE 'test' END AS split,
       lang,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS total_chars
FROM assigned
GROUP BY 1, 2""",
)
def q_corpus_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment by content-free id hash
    (~90/5/5 over 256 md5 buckets): reproducible across engines and runs,
    no RNG state, stable under re-partitioning — the property a training
    pipeline needs so a re-run never leaks val docs into train. Pure
    map-side expression + one aggregate; linear at any scale."""
    d = load(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "long"
    )
    split = (
        F.when(h < 230, "train").when(h < 243, "val").otherwise("test").alias("split")
    )
    return d.groupBy(split, "lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars")
    )


@register(
    "documents_pack_bins",
    """WITH packed AS (
  SELECT lang, doc_id, n_chars,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM documents
)
SELECT lang,
       ((cum - n_chars) // 8192)::BIGINT AS bin,
       count(*)::BIGINT AS n_docs,
       sum(n_chars)::BIGINT AS bin_chars
FROM packed
GROUP BY 1, 2""",
)
def q_documents_pack_bins(spark, sf_dir):
    """Sequence packing: assign docs to fixed-budget context bins by the
    running length of their shard (bin = start offset / budget) — the
    streaming approximation of greedy packing used when materializing
    training sequences. Packing is PER LANGUAGE shard, so the window is
    partitioned (no single-partition global sort); at 100 TB the shard key
    is (lang, hash-shard) and each shard packs independently."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.select(
        "lang",
        "n_chars",
        (((F.sum("n_chars").over(w) - F.col("n_chars")) / F.lit(8192)).cast("long")).alias(
            "bin"
        ),
    )
    return packed.groupBy("lang", "bin").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("bin_chars")
    )


@register(
    "corpus_decontaminate",
    """WITH tokd AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, lang,
         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4] AS gram
  FROM tokd, unnest(range(1, len(toks) - 3)) AS r(i)
  WHERE len(toks) >= 5
),
bench AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0
),
contaminated AS (
  SELECT DISTINCT g.doc_id, g.lang
  FROM grams g JOIN bench b ON g.gram = b.gram
  WHERE g.doc_id % 97 <> 0
)
SELECT t.lang,
       count(DISTINCT c.doc_id)::BIGINT AS n_contaminated,
       count(DISTINCT t.doc_id)::BIGINT AS n_train
FROM tokd t LEFT JOIN contaminated c ON t.doc_id = c.doc_id AND t.lang = c.lang
WHERE t.doc_id % 97 <> 0
GROUP BY t.lang""",
)
def q_corpus_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any 5-gram
    with the held-out benchmark slice (doc_id % 97 = 0 stands in for the
    eval set). Shingle explode -> distinct -> semi join on the gram — the
    join is equi-keyed on the n-gram, so at 100 TB it is one keyed shuffle
    of the (sparse) benchmark gram set against the corpus grams, with the
    benchmark side broadcastable when the eval suite is small."""
    d = load(spark, sf_dir, "documents")
    # persist: the gram table feeds the benchmark side AND the training
    # side — lazy recompute would run the explode+distinct three times
    grams = (
        dedup.shingle_sets(d, k=5)
        .join(d.select("doc_id", "lang"), "doc_id")
        .persist()
    )
    bench_grams = grams.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    train = grams.filter(F.col("doc_id") % 97 != 0)
    contaminated = (
        train.join(bench_grams, "shingle")
        .select("doc_id")
        .distinct()
        .withColumn("_c", F.lit(1))
    )
    base = d.filter(F.col("doc_id") % 97 != 0).select("doc_id", "lang")
    return (
        base.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.when(F.col("_c") == 1, 1)).alias("n_contaminated"),
            F.countDistinct("doc_id").alias("n_train"),
        )
    )


@register(
    "embeddings_quantized_topk",
    """WITH deq AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> round(x::DOUBLE * 127 / s) * s / 127) AS v
  FROM (SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS s
        FROM embeddings)
),
q AS (
  SELECT vec_id AS qid, v AS qv FROM deq
  WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
),
scored AS (
  SELECT d.vec_id AS neighbor_id,
         round(list_dot_product(d.v, q.qv) /
               (sqrt(list_dot_product(d.v, d.v)) *
                sqrt(list_dot_product(q.qv, q.qv))), 6) + 0.0 AS cos
  FROM deq d, q WHERE d.vec_id <> q.qid
)
SELECT neighbor_id, cos FROM scored
ORDER BY cos DESC, neighbor_id LIMIT 10""",
)
def q_embeddings_quantized_topk(spark, sf_dir):
    """Symmetric int8 quantization (per-vector max-abs scale) + top-k over
    the DEQUANTIZED vectors — the 4x embedding-storage cut every 100 TB
    vector pipeline takes, verified end-to-end: quantize, dequantize, rank.
    Map-only column math (codegen'd HOF fold — the right kernel for the
    single-query shape) + TakeOrderedAndProject; the single-row query side
    is a broadcast, so no shuffle anywhere."""
    emb = load(spark, sf_dir, "embeddings")
    dbl = F.transform("embedding", lambda x: x.cast("double"))
    # scale is let-bound (word_shingles discipline): referencing the
    # array_max fold inside the dequantize lambda would re-run the whole
    # O(d) max per element — O(d^2) per row
    deq = F.element_at(
        F.transform(
            F.array(F.array_max(F.transform(dbl, F.abs))),
            lambda scale: F.transform(
                dbl, lambda x: F.round(x * 127.0 / scale) * scale / 127.0
            ),
        ),
        1,
    )
    dv = emb.select("vec_id", deq.alias("v"))
    qv = (
        dv.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    scored = (
        dv.crossJoin(F.broadcast(qv))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            (
                F.round(
                    dot(F.col("v"), F.col("qv"))
                    / (
                        F.sqrt(dot(F.col("v"), F.col("v")))
                        * F.sqrt(dot(F.col("qv"), F.col("qv")))
                    ),
                    6,
                )
                + F.lit(0.0)
            ).alias("cos"),
        )
    )
    return scored.orderBy(F.col("cos").desc(), "neighbor_id").limit(10)


# Coarse-to-fine retrieval: rank on the first 16 dims (4x cheaper scan —
# matryoshka-style truncation), keep 50 candidates, then exact full-dim
# rerank to top-10. The two-stage shape that makes brute-force viable at
# 100 TB: stage 1 reads a quarter of the vector bytes, stage 2 touches 50
# rows. Both stages deterministic -> oracle-exact.

@register(
    "knn_truncated_rerank",
    f"""WITH q AS (
  SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id = 0
),
coarse AS (
  SELECT b.vec_id AS neighbor_id, b.embedding,
         round(list_dot_product(b.embedding[1:16]::DOUBLE[], q.embedding[1:16]::DOUBLE[]) /
               (sqrt(list_dot_product(b.embedding[1:16]::DOUBLE[], b.embedding[1:16]::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding[1:16]::DOUBLE[], q.embedding[1:16]::DOUBLE[]))), 6) + 0 AS ccos
  FROM embeddings b, q WHERE b.vec_id <> q.query_id
),
cand AS (
  SELECT neighbor_id, embedding FROM coarse
  ORDER BY ccos DESC, neighbor_id LIMIT 50
),
fine AS (
  SELECT c.neighbor_id,
         round(list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0 AS cos
  FROM cand c, q
)
SELECT neighbor_id, cos FROM fine
ORDER BY cos DESC, neighbor_id LIMIT 10""",
)
def q_knn_truncated_rerank(spark, sf_dir):
    from ..functions.vector import cosine

    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    qv = [float(x) for x in qrow["embedding"]]
    qv16 = qv[:16]

    from ..functions.vector import vec_lit as lit_vec

    coarse = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "embedding",
            (
                F.round(
                    cosine(F.slice("embedding", 1, 16), lit_vec(qv16)), 6
                )
                + F.lit(0.0)
            ).alias("ccos"),
        )
        .orderBy(F.col("ccos").desc(), "neighbor_id")
        .limit(50)
    )
    fine = coarse.select(
        "neighbor_id",
        (F.round(cosine(F.col("embedding"), lit_vec(qv)), 6) + F.lit(0.0)).alias(
            "cos"
        ),
    )
    return fine.orderBy(F.col("cos").desc(), "neighbor_id").limit(10)


# ANN recall instrumentation: the flat KNN is the SEMANTICS (reference
# never builds a vector index, src/vectordb/index.ts:346); every ANN
# variant is an optimization whose quality must be MEASURED, not assumed.
# recall@10 per (variant, query) against the brute-force ground truth —
# fully deterministic (every component is an oracle-checked ranking), so
# the report itself is oracle-paired.

RECALL_SQL = f"""WITH q AS (
  SELECT vec_id AS query_id, embedding, label FROM embeddings WHERE vec_id IN {_QSET}
),
allscore AS (
  SELECT q.query_id, b.vec_id AS neighbor_id, b.label AS b_label, q.label AS q_label,
         round(list_dot_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0 AS cos
  FROM embeddings b, q WHERE b.vec_id <> q.query_id
),
truth AS (
  SELECT query_id, neighbor_id FROM allscore
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
),
ivf AS (
  SELECT query_id, neighbor_id FROM allscore WHERE b_label = q_label
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) <= 10
),
expl AS (
  SELECT label, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM embeddings
),
cent AS (
  SELECT label AS c_label, dim,
         round(CAST(avg(CAST(x AS DECIMAL(18,9))) AS DOUBLE), 6) + 0.0 AS c
  FROM expl GROUP BY c_label, dim
),
cvec AS (SELECT c_label, list(c ORDER BY dim) AS cv FROM cent GROUP BY c_label),
probe AS (
  SELECT query_id, c_label AS label FROM (
    SELECT q.query_id, c.c_label,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY round(list_distance(q.embedding::DOUBLE[], c.cv), 6), c.c_label
           ) AS rk
    FROM q, cvec c) t
  WHERE rk <= 2
),
mp AS (
  SELECT a.query_id, a.neighbor_id FROM allscore a
  JOIN probe p ON p.query_id = a.query_id AND p.label = a.b_label
  QUALIFY row_number() OVER (PARTITION BY a.query_id ORDER BY a.cos DESC, a.neighbor_id) <= 10
),
sigs AS (SELECT vec_id, {{LSH_SIG}} AS sig FROM embeddings),
qsigs AS (SELECT q.query_id, s.sig AS qsig FROM q JOIN sigs s ON s.vec_id = q.query_id),
lprobes AS (SELECT query_id, unnest({{LSH_PROBES}}) AS bucket FROM qsigs),
lsh AS (
  SELECT a.query_id, a.neighbor_id FROM allscore a
  JOIN sigs s ON s.vec_id = a.neighbor_id
  JOIN lprobes p ON p.query_id = a.query_id AND p.bucket = s.sig
  QUALIFY row_number() OVER (PARTITION BY a.query_id ORDER BY a.cos DESC, a.neighbor_id) <= 10
),
hits AS (
  SELECT 'ivf_probe' AS variant, v.query_id, count(*) AS hits
  FROM ivf v JOIN truth t USING (query_id, neighbor_id) GROUP BY 2
  UNION ALL
  SELECT 'ivf_multiprobe', v.query_id, count(*)
  FROM mp v JOIN truth t USING (query_id, neighbor_id) GROUP BY 2
  UNION ALL
  SELECT 'lsh_hyperplane', v.query_id, count(*)
  FROM lsh v JOIN truth t USING (query_id, neighbor_id) GROUP BY 2
),
grid AS (
  SELECT v.variant, qq.query_id
  FROM (SELECT unnest(['ivf_probe', 'ivf_multiprobe', 'lsh_hyperplane']) AS variant) v
  CROSS JOIN (SELECT DISTINCT query_id FROM q) qq
)
SELECT g.variant, g.query_id, coalesce(h.hits, 0)::BIGINT AS hits,
       round(coalesce(h.hits, 0) / 10.0, 6) + 0 AS recall
FROM grid g LEFT JOIN hits h ON h.variant = g.variant AND h.query_id = g.query_id
ORDER BY g.variant, g.query_id"""


@register(
    "knn_recall_report",
    RECALL_SQL.replace("{LSH_SIG}", _lsh_sig_sql()).replace(
        "{LSH_PROBES}", _LSH_PROBES
    ),
)
def q_knn_recall_report(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q_lab = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    # the ground-truth subtree is referenced by every variant's semi join:
    # materialize its <= 30 rows to the driver ONCE and rebuild them as a
    # literal frame — the brute-force scan runs exactly once, and nothing
    # stays persisted in executor storage after the query returns (a
    # .persist() here would leak across the session's other queries)
    truth_rows = [
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_knn(q, emb, k=10)
        .select("query_id", "neighbor_id")
        .collect()
    ]
    truth = spark.createDataFrame(truth_rows, "query_id long, neighbor_id long")
    variants = {
        "ivf_probe": similarity.cosine_knn(q_lab, emb, k=10, block_col="label"),
        "ivf_multiprobe": similarity.cosine_knn(
            _ivf_probe_frame(spark, emb), emb, k=10, block_col="label"
        ),
        "lsh_hyperplane": similarity.lsh_knn(q, emb, _lsh_planes(), k=10),
    }
    rep = None
    for vname, vdf in variants.items():
        hits = (
            vdf.select("query_id", "neighbor_id")
            .join(truth, ["query_id", "neighbor_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count("*").alias("hits"))
        )
        row = (
            q.select("query_id")
            .join(hits, "query_id", "left")
            .select(
                F.lit(vname).alias("variant"),
                "query_id",
                F.coalesce("hits", F.lit(0)).alias("hits"),
            )
        )
        rep = row if rep is None else rep.unionByName(row)
    return (
        rep.withColumn("recall", F.round(F.col("hits") / 10.0, 6) + F.lit(0.0))
        .orderBy("variant", "query_id")
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive/embedding training (the batch-mining
# step behind every dual-encoder recipe, e.g. DPR/ANCE): for each anchor,
# the most similar SAME-label vector (positive) and the most similar
# DIFFERENT-label vector (the hard negative — what the model must learn to
# push away), plus the margin between them. Low/negative margins mark the
# anchors whose neighborhoods are contaminated — exactly the pairs worth
# training on.
#
# Scale posture: anchors broadcast (mining batches are bounded); scoring is
# one map-side pass over the corpus with the Arrow cosine kernel; per-
# (anchor, class) top-1 is a max(struct) aggregate — no window over corpus
# rows, no pair materialization beyond the scored stream.

_COS_QB = (
    "round(list_dot_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) / "
    "(sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) * "
    "sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0"
)


@register(
    "knn_hard_negatives",
    f"""WITH q AS (
  SELECT vec_id AS query_id, embedding, label FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         CASE WHEN b.label = q.label THEN 1 ELSE 0 END AS is_pos,
         {_COS_QB} AS cos
  FROM embeddings b, q
  WHERE b.vec_id <> q.query_id
),
best AS (
  -- zero-norm vectors make the cosine NULL/NaN; the Spark side drops
  -- them (filter ~isnan), so the oracle must too
  SELECT query_id, is_pos, neighbor_id, cos FROM scored
  WHERE cos IS NOT NULL AND isfinite(cos)
  QUALIFY row_number() OVER (PARTITION BY query_id, is_pos
                             ORDER BY cos DESC, neighbor_id) = 1
)
SELECT query_id,
       max(CASE WHEN is_pos = 1 THEN neighbor_id END)::BIGINT AS pos_id,
       max(CASE WHEN is_pos = 1 THEN cos END) AS pos_cos,
       max(CASE WHEN is_pos = 0 THEN neighbor_id END)::BIGINT AS neg_id,
       max(CASE WHEN is_pos = 0 THEN cos END) AS neg_cos,
       round(max(CASE WHEN is_pos = 1 THEN cos END)
             - max(CASE WHEN is_pos = 0 THEN cos END), 6) + 0 AS margin
FROM best GROUP BY query_id ORDER BY query_id""",
)
def q_knn_hard_negatives(spark, sf_dir):
    from ..functions.vector import cosine_pairs_pandas

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("_qv"),
        F.col("label").alias("_ql"),
    )
    b = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("_bv"),
        F.col("label").alias("_bl"),
    )
    cos_pd = cosine_pairs_pandas()
    scored = (
        b.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cos_pd(F.col("_qv"), F.col("_bv")), 6) + F.lit(0.0))
        # isnan(NULL) is FALSE in Spark, so a null cosine (Arrow NaN can
        # surface as null) needs its own guard or it slips through
        .filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
        .withColumn("is_pos", (F.col("_bl") == F.col("_ql")).cast("int"))
    )
    # top-1 per (anchor, class) as a max over (cos, -id) structs: largest
    # rounded cosine, smallest neighbor_id on ties — no corpus-sized window
    best = scored.groupBy("query_id", "is_pos").agg(
        F.max(
            F.struct(F.col("cos"), (-F.col("neighbor_id")).alias("_nn"))
        ).alias("m")
    )
    return (
        best.groupBy("query_id")
        .agg(
            F.max(F.when(F.col("is_pos") == 1, F.col("m"))).alias("p"),
            F.max(F.when(F.col("is_pos") == 0, F.col("m"))).alias("n"),
        )
        .select(
            "query_id",
            (-F.col("p._nn")).cast("long").alias("pos_id"),
            F.col("p.cos").alias("pos_cos"),
            (-F.col("n._nn")).cast("long").alias("neg_id"),
            F.col("n.cos").alias("neg_cos"),
            (F.round(F.col("p.cos") - F.col("n.cos"), 6) + F.lit(0.0)).alias(
                "margin"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# TF-IDF document keywords: the top-3 most characteristic terms per
# document (tf * ln(N/df), smoothed) — the classic per-document labeling /
# topic-hint extraction pass. Scale: tokenize+count is the per-(doc,term)
# aggregate every scorer pays; document frequencies are ONE vocabulary
# aggregate joined back by term (equi join); top-3 per doc is a window
# over each doc's OWN terms, partitioned by doc_id — never a global sort.
# Determinism: integer tf/df/N; the score is quantized to micro-units
# (round(tf * ln(N/df) * 1e6) as BIGINT) so ranking ties are integer-exact
# in both engines, with the term string as the final tie-break.

@register(
    "text_tfidf_keywords",
    """WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, tok
),
df AS (
  SELECT tok, count(*)::BIGINT AS df FROM tf GROUP BY tok
),
n AS (SELECT count(DISTINCT doc_id)::BIGINT AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.tok,
         CAST(round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 1000000)
              AS BIGINT) AS score_micro
  FROM tf JOIN df USING (tok), n
)
SELECT doc_id, tok AS term, score_micro,
       row_number() OVER (PARTITION BY doc_id
                          ORDER BY score_micro DESC, tok) AS rk
FROM scored
QUALIFY rk <= 3
ORDER BY doc_id, rk""",
)
def q_text_tfidf_keywords(spark, sf_dir):
    from pyspark.sql import Window

    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    n = docs.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 1000000
            )
            .cast("long")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("tok").alias("term"), "score_micro", "rk")
        .orderBy("doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# SemDeDup-style semantic keep-list (Abbas et al. 2023): embedding-space
# near-duplicate pairs (cosine within a blocking key) -> connected
# components -> one representative (min id) kept per semantic cluster.
# This is the embedding-side twin of dedup_keep_list's MinHash pipeline:
# same decision-artifact shape, different similarity channel — lexical
# MinHash misses paraphrases that embedding cosine catches. Blocking by
# cluster/label keeps the pair stage equi-keyed (never all-pairs); the
# component step is the same bounded star-contraction operator.
#
# Scale note: the label column (5 values) is the ORACLE-reproducible
# blocking for this 500-vector corpus; within-block work is quadratic, so
# production corpora must block on ivf_assign cells with cell count
# proportional to corpus size (see embedding_near_dups docstring) — a
# fixed block count re-creates the cross join as data grows.

@register(
    "dedup_semantic_keep_list",
    f"""WITH RECURSIVE pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round({_COS_PAIR}, 6) + 0 >= 0.9
),
edges AS (
  SELECT id1 AS src, id2 AS dst FROM pairs
  UNION
  SELECT id2, id1 FROM pairs
),
reach(id, lab) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.id
),
labels AS (SELECT id, min(lab)::BIGINT AS cluster_id FROM reach GROUP BY id)
SELECT e.vec_id,
       coalesce(l.cluster_id, e.vec_id)::BIGINT AS representative,
       (l.cluster_id IS NULL OR l.cluster_id = e.vec_id) AS keep
FROM embeddings e LEFT JOIN labels l ON l.id = e.vec_id
ORDER BY e.vec_id""",
)
def q_dedup_semantic_keep_list(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    pairs = similarity.embedding_near_dups(emb, threshold=0.9).persist()
    pairs.count()
    labels = dedup.connected_components(pairs)
    return (
        emb.select("vec_id")
        .join(labels.withColumnRenamed("id", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("label"), F.col("vec_id"))
            .cast("bigint")
            .alias("representative"),
            (
                F.col("label").isNull() | (F.col("label") == F.col("vec_id"))
            ).alias("keep"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# PageRank centrality over the verified duplicate graph — the iterative-
# algorithm shape (Pregel-style rounds: one equi-join + one aggregate per
# iteration) that neither a window nor a single aggregate can express.
# Use case: rank duplicate-cluster members by connectivity so the cluster
# representative can be the HUB (the doc everything else copies) rather
# than just the min id.
#
# Engine-exact by construction: ranks live in integer micro-units; each
# round divides by degree and applies damping with INTEGER floor division
# (Spark `div` == DuckDB `//` on positive BIGINTs), so there is no float
# summation anywhere and both engines reach bit-identical fixpoints.
# Dangling mass is not redistributed (teleport-only nodes keep 150000) —
# documented simplification, fine for a centrality diagnostic. Scale: per
# round cost is one shuffle join on src + one aggregate on dst; the rank
# frame is |nodes| rows, never corpus-sized.

_PR_ITERS = 3


def _pagerank_sql() -> str:
    ctes = [
        """edges AS (
  SELECT id1 AS src, id2 AS dst FROM jpairs
  UNION
  SELECT id2, id1 FROM jpairs
),
nodes AS (SELECT DISTINCT doc_id AS id FROM corpus),
deg AS (SELECT src AS id, count(*)::BIGINT AS deg FROM edges GROUP BY src),
r0 AS (SELECT id, 1000000::BIGINT AS rank FROM nodes)"""
    ]
    for t in range(1, _PR_ITERS + 1):
        ctes.append(
            f"""r{t} AS (
  SELECT n.id,
         (150000 + (85 * coalesce(s.inc, 0)) // 100)::BIGINT AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank // d.deg)::BIGINT AS inc
    FROM edges e JOIN r{t - 1} p ON p.id = e.src JOIN deg d ON d.id = e.src
    GROUP BY e.dst
  ) s ON s.id = n.id
)"""
        )
    return (
        f"WITH {_JACCARD_PAIRS_CTES},\n"
        + ",\n".join(ctes)
        + f"\nSELECT id AS doc_id, rank AS rank_micro FROM r{_PR_ITERS}"
        "\nORDER BY rank_micro DESC, doc_id LIMIT 20"
    )


@register("dedup_graph_pagerank", _pagerank_sql())
def q_dedup_graph_pagerank(spark, sf_dir):
    corpus = _dedup_corpus(spark, sf_dir)
    prof = dedup.doc_profiles(corpus).persist()
    prof.count()
    cpairs = dedup.lsh_candidate_pairs(prof).persist()
    cpairs.count()
    jp = dedup.jaccard_verify_sets(
        cpairs, prof.select("doc_id", "_sh"), threshold=0.7
    ).select("id1", "id2")
    edges = (
        jp.union(jp.select(F.col("id2"), F.col("id1")))
        .toDF("src", "dst")
        .persist()
    )
    nodes = corpus.select(F.col("doc_id").alias("id")).distinct()
    ranks = dedup.integer_pagerank(nodes, edges, iters=_PR_ITERS)
    return (
        ranks.select(
            F.col("id").alias("doc_id"), F.col("rank").alias("rank_micro")
        )
        .orderBy(F.col("rank_micro").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Persisted partition-pruned IVF index — knn_ivf_probe's math over the
# STORED index layout (plans/ann_index): vectors live partitioned by
# coarse cell, queries collect their probe cells driver-side (same bounded
# collect as ivf_multiprobe) and the scan prunes every other cell
# directory at planning time. Results are row-identical to knn_ivf_probe
# (same oracle SQL); what changes is the physical access path — per-query
# I/O ~ nprobe/n_cells of the corpus instead of a full scan.

def _ivf_index_sql() -> str:
    # identical semantics to knn_ivf_probe — the index changes the access
    # path, never the answer
    return REGISTRY["knn_ivf_probe"]["sql"]


@register("knn_ivf_indexed", _ivf_index_sql())
def q_knn_ivf_indexed(spark, sf_dir):
    import os

    from ..plans.ann_index import read_ivf_cells, write_ivf_index
    from .rag import _scratch_path

    emb = load(spark, sf_dir, "embeddings")
    path = _scratch_path(sf_dir, "ann_ivf", tables=("embeddings",))
    if not os.path.isdir(path):
        write_ivf_index(
            emb.withColumn("cell", F.col("label")),
            path,
            sort_cols=("vec_id",),
            meta={"source": "label"},
        )
    qrows = (
        emb.filter(F.col("vec_id").isin(0, 1, 2))
        .select("vec_id", "embedding", "label")
        .collect()
    )
    cells = sorted({int(r.label) for r in qrows})
    corpus = read_ivf_cells(spark, path, cells)
    q = spark.createDataFrame(
        [(int(r.vec_id), [float(x) for x in r.embedding], int(r.label)) for r in qrows],
        "query_id long, embedding array<double>, cell int",
    )
    return similarity.cosine_knn(q, corpus, k=5, block_col="cell")


# ---------------------------------------------------------------------------
# Retrieval-quality metrics (MRR / nDCG@10) — the evaluation harness side
# of the search stack: score the brute-force retriever against label-match
# relevance on the embeddings table, per query. knn_recall_report measures
# the ANN variants against brute force; this measures the retriever
# itself against ground truth — together they are the recall/rank-quality
# dashboard every retrieval deployment runs.
#
# Ranking is the shared total order (round(cos, 6) desc, neighbor_id), so
# ranks are engine-stable; metric floats round at 6 after the aggregates.
# Scale posture: metric aggregation runs over <= queries x 10 rows; the
# only corpus-sized work is the one Arrow-kernel scan cosine_knn already
# bounds, plus a per-label count aggregate for the ideal-DCG term.

@register(
    "rag_eval_ndcg",
    f"""WITH q AS (SELECT vec_id AS query_id, embedding, label FROM embeddings
           WHERE vec_id IN {_QSET}),
scored AS (
  SELECT q.query_id, b.vec_id AS neighbor_id,
         round(list_dot_product(b.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])) *
                sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) + 0 AS cos,
         CASE WHEN b.label = q.label THEN 1 ELSE 0 END AS rel
  FROM embeddings b, q
  WHERE b.vec_id <> q.query_id
),
top AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
    FROM scored
  ) WHERE rnk <= 10
),
rtot AS (
  SELECT q.query_id, count(*)::BIGINT AS n_rel_total
  FROM embeddings b, q
  WHERE b.vec_id <> q.query_id AND b.label = q.label
  GROUP BY q.query_id
),
idcg AS (
  SELECT query_id, sum(1.0 / log2(i + 1.0)) AS idcg
  FROM (SELECT query_id, unnest(range(1, least(n_rel_total, 10) + 1)) AS i
        FROM rtot)
  GROUP BY query_id
),
m AS (
  SELECT query_id,
         sum(rel)::BIGINT AS n_rel_at_10,
         coalesce(max(CASE WHEN rel = 1 THEN 1.0 / rnk END), 0.0) AS mrr,
         sum(rel / log2(rnk + 1.0)) AS dcg
  FROM top GROUP BY query_id
)
SELECT m.query_id, m.n_rel_at_10,
       round(m.mrr, 6) + 0 AS mrr,
       round(coalesce(m.dcg / i.idcg, 0.0), 6) + 0 AS ndcg
FROM m LEFT JOIN idcg i USING (query_id)
ORDER BY m.query_id""",
)
def q_rag_eval_ndcg(spark, sf_dir):
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    top = similarity.cosine_knn(
        q.select("query_id", "embedding"), emb, k=10
    )
    labels = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("label").alias("_nl"))
    qlab = q.select("query_id", F.col("label").alias("_ql"))
    # rank + relevance over the <= 30 retrieved rows (both sides of the
    # label join broadcast-sized; the window partitions by query)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    top = (
        top.join(F.broadcast(qlab), "query_id")
        .join(labels, "neighbor_id")
        .withColumn("rnk", F.row_number().over(w))
        .withColumn(
            "rel", F.when(F.col("_nl") == F.col("_ql"), 1).otherwise(0)
        )
    )
    m = top.groupBy("query_id").agg(
        F.sum("rel").cast("long").alias("n_rel_at_10"),
        F.coalesce(
            F.max(F.when(F.col("rel") == 1, 1.0 / F.col("rnk"))), F.lit(0.0)
        ).alias("_mrr"),
        F.sum(F.col("rel") / F.log2(F.col("rnk") + 1.0)).alias("_dcg"),
    )
    # ideal DCG from the corpus-wide same-label count (one broadcast-sized
    # aggregate), expanded to ranks 1..min(R, 10) with a sequence explode
    rtot = (
        emb.join(F.broadcast(qlab), emb["label"] == qlab["_ql"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id")
        .agg(F.count("*").alias("n_rel_total"))
    )
    idcg = (
        rtot.select(
            "query_id",
            F.explode(
                F.sequence(F.lit(1), F.least(F.col("n_rel_total"), F.lit(10)))
            ).alias("i"),
        )
        .groupBy("query_id")
        .agg(F.sum(1.0 / F.log2(F.col("i") + 1.0)).alias("_idcg"))
    )
    return (
        m.join(idcg, "query_id", "left")
        .select(
            "query_id",
            "n_rel_at_10",
            (F.round("_mrr", 6) + F.lit(0.0)).alias("mrr"),
            (
                F.round(
                    F.coalesce(F.col("_dcg") / F.col("_idcg"), F.lit(0.0)), 6
                )
                + F.lit(0.0)
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Triangle count + degree profile over the near-duplicate graph — the
# graph-health diagnostic behind template/mirror detection: duplicate
# families arising from one shared template form near-cliques (many
# triangles), while chains of pairwise-similar revisions stay
# triangle-poor. Complements dedup_clusters (component membership) and
# dedup_graph_pagerank (centrality) with a local-density signal.
#
# Scale posture (the standard distributed-triangle recipe): edges are
# ORIENTED from the lower-degree endpoint to the higher (ties by id), so
# every wedge is generated at its lowest-degree vertex — the join
# fan-out per vertex is bounded by its out-degree, which orientation
# caps at O(sqrt(E)) even for hub vertices. Both joins are equi-joins on
# vertex ids; nothing is quadratic in the CORPUS — but triangle counting
# is inherently O(E^1.5) in the EDGE set, and a heavily-duplicated
# corpus makes the near-dup graph edge-quadratic per duplicate family
# (k copies -> a k-clique -> k(k-1)/2 edges). Production ordering is
# dedup first, diagnose the representative graph after — or cap family
# size before the pair join (same rule as an LSH bucket cap; the
# replica-based scale probe excluded
# this query for exactly that reason, see BENCH_SCALE_r07).

@register(
    "dedup_graph_triangles",
    f"""WITH {_JACCARD_PAIRS_CTES},
deg AS (
  SELECT id, count(*)::BIGINT AS deg FROM (
    SELECT id1 AS id FROM jpairs UNION ALL SELECT id2 FROM jpairs
  ) GROUP BY id
),
oriented AS (
  SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p.id1 < p.id2)
              THEN p.id1 ELSE p.id2 END AS src,
         CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND p.id1 < p.id2)
              THEN p.id2 ELSE p.id1 END AS dst
  FROM jpairs p JOIN deg d1 ON d1.id = p.id1 JOIN deg d2 ON d2.id = p.id2
),
wedges AS (
  SELECT a.src, a.dst AS mid, b.dst
  FROM oriented a JOIN oriented b ON a.dst = b.src
),
tris AS (
  SELECT count(*)::BIGINT AS n_triangles
  FROM wedges w JOIN oriented o ON o.src = w.src AND o.dst = w.dst
)
SELECT t.n_triangles,
       (SELECT count(*)::BIGINT FROM jpairs) AS n_edges,
       (SELECT count(*)::BIGINT FROM deg) AS n_vertices,
       (SELECT max(deg) FROM deg)::BIGINT AS max_degree
FROM tris t""",
)
def q_dedup_graph_triangles(spark, sf_dir):
    corpus = _dedup_corpus(spark, sf_dir)
    prof = dedup.doc_profiles(corpus).persist()
    prof.count()
    cpairs = dedup.lsh_candidate_pairs(prof).persist()
    cpairs.count()
    jp = (
        dedup.jaccard_verify_sets(cpairs, prof.select("doc_id", "_sh"), threshold=0.7)
        .select("id1", "id2")
        .persist()
    )
    deg = (
        jp.select(F.col("id1").alias("id"))
        .unionByName(jp.select(F.col("id2").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("deg"))
        .persist()
    )
    d1 = deg.select(F.col("id").alias("id1"), F.col("deg").alias("_d1"))
    d2 = deg.select(F.col("id").alias("id2"), F.col("deg").alias("_d2"))
    lower_first = (F.col("_d1") < F.col("_d2")) | (
        (F.col("_d1") == F.col("_d2")) & (F.col("id1") < F.col("id2"))
    )
    oriented = (
        jp.join(d1, "id1")
        .join(d2, "id2")
        .select(
            F.when(lower_first, F.col("id1")).otherwise(F.col("id2")).alias("src"),
            F.when(lower_first, F.col("id2")).otherwise(F.col("id1")).alias("dst"),
        )
        .persist()
    )
    a = oriented.select(F.col("src"), F.col("dst").alias("mid"))
    b = oriented.select(F.col("src").alias("mid"), F.col("dst"))
    wedges = a.join(b, "mid").select("src", "dst")
    # inner join, not semi: each wedge that closes counts once per its
    # distinct mid vertex — count(*) over the closed wedges IS the
    # triangle count (each triangle generates exactly one wedge at its
    # lowest-degree vertex under the orientation)
    tris = wedges.join(oriented, ["src", "dst"])
    # Action order matters: tris.count() FIRST materializes the jp, deg
    # and oriented caches inside one job (sequentially, in dependency
    # order); the two follow-up stats actions then read pure cache.
    # (A single crossJoin-of-aggregates job was tried in r15 and
    # REGRESSED 8.9 -> 20.9 s: its broadcast subtrees race the main
    # subtree into the not-yet-materialized caches and duplicate the
    # whole LSH prefix across concurrent jobs.) deg is persisted — the
    # old plan inlined the degree groupBy twice into the orientation
    # join and re-aggregated it twice more for the stats — and
    # n_vertices/max_degree fold into ONE cached aggregate.
    n_tri = tris.count()
    n_edges = jp.count()
    vrow = deg.agg(
        F.count("*").alias("n_vertices"), F.max("deg").alias("max_deg")
    ).first()
    jp.unpersist()
    oriented.unpersist()
    deg.unpersist()
    return spark.createDataFrame(
        [(n_tri, n_edges, vrow["n_vertices"], int(vrow["max_deg"]))],
        "n_triangles long, n_edges long, n_vertices long, max_degree long",
    )


# ---------------------------------------------------------------------------
# FUZZY benchmark decontamination — the MinHash complement to the exact
# 5-gram corpus_decontaminate: an eval item that leaked into training
# data with light edits (appended boilerplate, paraphrased tail) shares
# no exact 5-gram window yet keeps near-identical shingle sets. Bench
# docs band-join the train side (cross-pairs only — never bench x bench
# or train x train), and candidates verify by true Jaccard >= 0.7.
# Leaks are PLANTED deterministically (bench text + an edit tail, same
# technique as the dedup corpus) so the result is non-vacuous and both
# engines construct byte-identical inputs.
#
# Scale posture: identical to incremental LSH dedup — shingle/sign is
# map-only, the cross join is equi-keyed on (band, band_key) with the
# (small) bench side broadcastable, and the quadratic verify runs on
# candidates only.

_FUZZY_CORPUS_CTE = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         text || ' appended leak marker tail words' AS text
  FROM documents WHERE doc_id % 97 = 0
)
"""

@register(
    "corpus_decontaminate_fuzzy",
    f"""WITH {_FUZZY_CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()},
crossp AS (
  SELECT id1, id2 FROM pairs
  WHERE (id1 % 97 = 0 AND id1 < 2000000) <> (id2 % 97 = 0 AND id2 < 2000000)
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.id1, p.id2, count(*)::BIGINT AS c
  FROM crossp p
  JOIN shingles s1 ON s1.doc_id = p.id1
  JOIN shingles s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
  GROUP BY p.id1, p.id2
),
jac AS (
  SELECT i.id1, i.id2,
         round(i.c::DOUBLE / (n1.n + n2.n - i.c), 6) AS jaccard
  FROM inter i
  JOIN sizes n1 ON n1.doc_id = i.id1
  JOIN sizes n2 ON n2.doc_id = i.id2
)
SELECT id1 AS bench_or_train_lo, id2 AS bench_or_train_hi, jaccard
FROM jac WHERE jaccard >= 0.7
ORDER BY id1, id2""",
)
def q_corpus_decontaminate_fuzzy(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    planted = docs.filter(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended leak marker tail words")).alias(
            "text"
        ),
    )
    corpus = docs.unionByName(planted)
    prof = dedup.doc_profiles(corpus).persist()
    prof.count()
    is_bench = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 2_000_000)
    bands = dedup.band_keys(prof)
    bench_b = bands.filter(is_bench).select(
        F.col("doc_id").alias("_b"), "band", "band_key"
    )
    train_b = bands.filter(~is_bench).select(
        F.col("doc_id").alias("_t"), "band", "band_key"
    )
    cand = (
        bench_b.join(train_b, ["band", "band_key"])
        .select(
            F.least("_b", "_t").alias("id1"), F.greatest("_b", "_t").alias("id2")
        )
        .distinct()
    )
    out = dedup.jaccard_verify_sets(cand, prof.select("doc_id", "_sh"), threshold=0.7)
    return out.select(
        F.col("id1").alias("bench_or_train_lo"),
        F.col("id2").alias("bench_or_train_hi"),
        "jaccard",
    ).orderBy("bench_or_train_lo", "bench_or_train_hi")


# Containment similarity (Broder): |A ∩ B| / |A| over shingle sets —
# the ASYMMETRIC near-dup measure that catches documents CONTAINED in a
# larger one (quotes, excerpts, prefix republications), which resemblance
# (Jaccard) under-scores. Candidates come from the SAME banded LSH
# blocking as dedup_minhash_lsh (never all-pairs); the containment is an
# exact shingle-intersection count over candidate pairs only. Float
# discipline: containment = intersection / |A| is a ratio of INTEGERS —
# emitted in half-away micro-units via exact BIGINT division, so no
# float round() sits in the cross-engine contract.

@register(
    "dedup_containment",
    f"""WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()},
sizes AS (SELECT doc_id, count(*)::BIGINT AS sz FROM shingles GROUP BY doc_id),
inter AS (
  SELECT p.id1, p.id2, count(*)::BIGINT AS i
  FROM pairs p
  JOIN shingles s1 ON s1.doc_id = p.id1
  JOIN shingles s2 ON s2.doc_id = p.id2 AND s2.shingle = s1.shingle
  GROUP BY p.id1, p.id2
)
SELECT i.id1, i.id2,
       ((2 * i.i * 1000000 + z1.sz) // (2 * z1.sz)) / 1000000.0 + 0 AS containment_1in2,
       ((2 * i.i * 1000000 + z2.sz) // (2 * z2.sz)) / 1000000.0 + 0 AS containment_2in1
FROM inter i
JOIN sizes z1 ON z1.doc_id = i.id1
JOIN sizes z2 ON z2.doc_id = i.id2
ORDER BY id1, id2""",
)
def q_dedup_containment(spark, sf_dir):
    # same r16 shape as jaccard_verify_sets: packed sets from the one-
    # shuffle doc_profiles, |A∩B| as a per-pair array_intersect, sizes as
    # F.size of the packed array — the pair-expanded shingle join and the
    # separate size aggregate are gone. `i >= 1` reproduces the old inner
    # intersection join's drop of zero-overlap candidates.
    corpus = _dedup_corpus(spark, sf_dir)
    prof = dedup.doc_profiles(corpus).persist()
    prof.count()
    pairs = dedup.lsh_candidate_pairs(prof)
    sets_ = prof.select("doc_id", "_sh")
    s1 = sets_.select(F.col("doc_id").alias("id1"), F.col("_sh").alias("_sh1"))
    s2 = sets_.select(F.col("doc_id").alias("id2"), F.col("_sh").alias("_sh2"))
    inter = (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            F.size(F.array_intersect("_sh1", "_sh2")).cast("long").alias("i"),
            F.size("_sh1").cast("long").alias("_z1"),
            F.size("_sh2").cast("long").alias("_z2"),
        )
        .filter(F.col("i") >= 1)
    )

    def _micro(i_col, sz_col):
        # half-away integer division in micro-units (exact BIGINT both
        # engines), then one double division — no float round()
        return F.expr(f"div(2 * {i_col} * 1000000 + {sz_col}, 2 * {sz_col})") / F.lit(
            1000000.0
        ) + F.lit(0.0)

    return (
        inter.select(
            "id1",
            "id2",
            _micro("i", "_z1").alias("containment_1in2"),
            _micro("i", "_z2").alias("containment_2in1"),
        )
        .orderBy("id1", "id2")
    )


# N-gram novelty curve — the dataset-staleness diagnostic: for each
# document (in doc_id order, the ingestion order proxy), the fraction of
# its distinct shingles NEVER seen in any earlier document. A corpus of
# fresh text holds a high floor; template/boilerplate growth shows up as
# decay. First-occurrence is one min() aggregate on the shingle hash —
# linear, no self-join — and the per-doc fraction is again an exact
# integer ratio in micro-units.

@register(
    "corpus_ngram_novelty",
    """WITH tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS shingle
  FROM tokd, unnest(range(1, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 3
),
first_seen AS (SELECT shingle, min(doc_id) AS fd FROM sh GROUP BY shingle),
per_doc AS (
  SELECT s.doc_id,
         count(*)::BIGINT AS n_shingles,
         sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END)::BIGINT AS novel
  FROM sh s JOIN first_seen f USING (shingle)
  GROUP BY s.doc_id
)
SELECT doc_id, n_shingles, novel,
       ((2 * novel * 1000000 + n_shingles) // (2 * n_shingles)) / 1000000.0 + 0
         AS novelty
FROM per_doc ORDER BY doc_id""",
)
def q_corpus_ngram_novelty(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    sh = dedup.shingle_sets(docs).persist()
    sh.count()
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("fd"))
    # r16: `novel` falls straight out of the first-occurrence aggregate
    # (#shingles whose min doc IS this doc) — the old form joined the full
    # shingle stream back against the |vocab| first_seen table and
    # re-aggregated the stream (two corpus-sized exchanges) to compute
    # numbers both available from per-doc rollups of frames already built
    # (guide §2.3 — don't shuffle what you throw away). sh is DISTINCT,
    # so count-of-rows == the old sum-of-matches exactly; docs whose every
    # shingle was seen earlier get novel = 0 via the left join.
    novel = first.groupBy(F.col("fd").alias("doc_id")).agg(
        F.count("*").alias("novel")
    )
    per_doc = (
        sh.groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
        .join(novel, "doc_id", "left")
        .withColumn("novel", F.coalesce(F.col("novel"), F.lit(0).cast("long")))
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "novel",
        (
            F.expr("div(2 * novel * 1000000 + n_shingles, 2 * n_shingles)")
            / F.lit(1000000.0)
            + F.lit(0.0)
        ).alias("novelty"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Seeded deterministic global shuffle + shard manifest — the reproducible
# training-export primitive (every run of the pipeline must hand the
# trainer the SAME document order). key = md5(seed || doc_id) gives an
# order that is uniform, seed-switchable, and engine-independent; shard =
# 60-bit key prefix mod n_shards; pos / offset_chars are the within-shard
# write plan (row index + cumulative byte offset) a shard writer needs.
# Scale shape: the shard assignment is map-side integer math; the only
# shuffle is the per-shard window sort — and n_shards grows with the
# corpus (bytes / target_shard_size, e.g. ~1 GB shards -> 100k shards at
# 100 TB), so each window partition stays shard-sized no matter the total.

_SHUF_SEED = "shuf42|"
_N_SHARDS = 8


@register(
    "corpus_shuffle_shards",
    f"""WITH keyed AS (
  SELECT doc_id, n_chars, md5('{_SHUF_SEED}' || doc_id) AS skey
  FROM documents
),
sharded AS (
  SELECT doc_id, n_chars, skey,
         ('0x' || substr(skey, 1, 15))::BIGINT % {_N_SHARDS} AS shard
  FROM keyed
)
SELECT doc_id, shard::BIGINT AS shard,
       (row_number() OVER (PARTITION BY shard ORDER BY skey, doc_id) - 1)::BIGINT
         AS pos,
       coalesce(sum(n_chars) OVER (PARTITION BY shard ORDER BY skey, doc_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0)::BIGINT AS offset_chars
FROM sharded ORDER BY shard, pos""",
)
def q_corpus_shuffle_shards(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    keyed = docs.withColumn(
        "skey", F.md5(F.concat(F.lit(_SHUF_SEED), F.col("doc_id").cast("string")))
    ).withColumn(
        "shard",
        (F.conv(F.substring("skey", 1, 15), 16, 10).cast("long") % _N_SHARDS),
    )
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        keyed.select(
            "doc_id",
            F.col("shard").cast("bigint").alias("shard"),
            (F.row_number().over(w) - 1).cast("bigint").alias("pos"),
            F.coalesce(
                F.sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("bigint").alias("offset_chars"),
        )
        .orderBy("shard", "pos")
    )


# ---------------------------------------------------------------------------
# Duplication attribution: the LSH candidate pair set rolled up by SOURCE
# pair — which corpora are duplicating which (mirror sites, cross-posted
# boilerplate, scraper overlap). Runs off the same banded candidate set as
# dedup_minhash_lsh (never all-pairs); the source lookup is two equi-joins
# against the narrow (doc_id, source) projection — at 100 TB that side is
# a table join keyed on doc_id, and the final rollup is a partial+final
# aggregate over source pairs (tiny). Planted duplicates (+1,000,000 ids)
# map back to their origin's source.

@register(
    "dedup_rate_by_source",
    f"""WITH {CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()},
src AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT least(s1.source, s2.source) AS source_a,
         greatest(s1.source, s2.source) AS source_b
  FROM pairs p
  JOIN src s1 ON s1.doc_id = CASE WHEN p.id1 >= 1000000 THEN p.id1 - 1000000 ELSE p.id1 END
  JOIN src s2 ON s2.doc_id = CASE WHEN p.id2 >= 1000000 THEN p.id2 - 1000000 ELSE p.id2 END
)
SELECT source_a, source_b, count(*)::BIGINT AS n_pairs
FROM lab GROUP BY source_a, source_b ORDER BY source_a, source_b""",
)
def q_dedup_rate_by_source(spark, sf_dir):
    pairs = dedup.lsh_candidate_pairs(
        dedup.minhash_signatures_docs(_dedup_corpus(spark, sf_dir))
    )
    src = load(spark, sf_dir, "documents").select("doc_id", "source")
    origin = lambda c: F.when(c >= 1_000_000, c - 1_000_000).otherwise(c)  # noqa: E731
    lab = (
        pairs.withColumn("o1", origin(F.col("id1")))
        .withColumn("o2", origin(F.col("id2")))
        .join(src.select(F.col("doc_id").alias("o1"), F.col("source").alias("s1")), "o1")
        .join(src.select(F.col("doc_id").alias("o2"), F.col("source").alias("s2")), "o2")
        .select(
            F.least("s1", "s2").alias("source_a"),
            F.greatest("s1", "s2").alias("source_b"),
        )
    )
    return (
        lab.groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Unrolled spherical k-means (k=8, 2 Lloyd iterations, init = the 8
# smallest vec_ids' embeddings) — the semantic-clustering primitive behind
# diversity sampling, semantic dedup, and IVF coarse quantizers. Each
# iteration is the 100 TB-correct plan: centroids (k x dim, tiny) broadcast
# into a map-side nearest-centroid scoring pass, then ONE partial+final
# aggregate keyed (cluster, dim) rebuilds them — no iteration ever
# shuffles the vector table. Determinism discipline: assignment distance
# is round(1 - dot, 6) with cluster-id tiebreak; centroid means and the
# final avg_dist are exact DECIMAL(18,9) sums (order-independent), so both
# engines iterate through bit-identical states.

_KM_K = 8


def _km_sql() -> str:
    return f"""WITH init AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding::DOUBLE[] AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
),
s1 AS (
  SELECT e.vec_id, i.cid, e.embedding,
         round(1.0 - list_dot_product(e.embedding::DOUBLE[], i.cv), 6) + 0 AS dist
  FROM embeddings e, init i
),
a1 AS (
  SELECT vec_id, cid, embedding,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM s1
),
m1 AS (SELECT vec_id, cid, embedding FROM a1 WHERE rk = 1),
e1 AS (
  SELECT cid, unnest(embedding) AS x,
         generate_subscripts(embedding, 1) - 1 AS dim
  FROM m1
),
c1 AS (
  SELECT cid, dim, round(CAST(avg(CAST(x AS DECIMAL(18,9))) AS DOUBLE), 6) + 0 AS c
  FROM e1 GROUP BY cid, dim
),
cv1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM c1 GROUP BY cid),
s2 AS (
  SELECT e.vec_id, c.cid,
         round(1.0 - list_dot_product(e.embedding::DOUBLE[], c.cv), 6) + 0 AS dist
  FROM embeddings e, cv1 c
),
a2 AS (
  SELECT vec_id, cid, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rk
  FROM s2
)
SELECT cid::BIGINT AS cluster, count(*)::BIGINT AS n_members,
       round(CAST(avg(CAST(dist AS DECIMAL(18,9))) AS DOUBLE), 6) + 0 AS avg_dist,
       min(vec_id)::BIGINT AS exemplar
FROM a2 WHERE rk = 1 GROUP BY cid ORDER BY cluster"""


def _km_assign(e, cvec):
    """Broadcast the (cid, cv) centroid frame and score every vector
    map-side; returns (vec_id, cid, embedding, dist) nearest-only rows."""
    from pyspark.sql import Window

    dot = F.aggregate(
        F.zip_with(F.col("embedding").cast("array<double>"), F.col("cv"),
                   lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = e.crossJoin(F.broadcast(cvec)).select(
        "vec_id", "cid", "embedding",
        (F.round(F.lit(1.0) - dot, 6) + 0.0).alias("dist"),
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cid")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)


def _km_centroids(members):
    """(cluster, dim)-keyed exact-decimal means -> (cid, cv) frame."""
    cent = (
        members.select("cid", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("cid", "dim")
        .agg(
            (F.round(F.avg(F.col("x").cast("decimal(18,9)")).cast("double"), 6)
             + 0.0).alias("c")
        )
    )
    return cent.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )


@register("embedding_kmeans", _km_sql())
def q_embedding_kmeans(spark, sf_dir):
    from pyspark.sql import Window

    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    w0 = Window.orderBy("vec_id")
    init = (
        e.orderBy("vec_id").limit(_KM_K)
        .select((F.row_number().over(w0) - 1).alias("cid"),
                F.col("embedding").cast("array<double>").alias("cv"))
    )
    m1 = _km_assign(e, init).select("vec_id", "cid", "embedding")
    a2 = _km_assign(e, _km_centroids(m1))
    return (
        a2.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            (F.round(F.avg(F.col("dist").cast("decimal(18,9)")).cast("double"), 6)
             + 0.0).alias("avg_dist"),
            F.min("vec_id").alias("exemplar"),
        )
        .select(
            F.col("cid").cast("bigint").alias("cluster"),
            "n_members", "avg_dist",
            F.col("exemplar").cast("bigint").alias("exemplar"),
        )
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# Embedding distribution drift (round 13): Population Stability Index per
# embedding dimension between two corpus populations — the standard
# monitoring statistic a training pipeline runs between a reference
# snapshot and each new ingest batch (a drifting embedding distribution
# invalidates ANN centroids and similarity thresholds long before recall
# metrics catch it; plans/ann_index.ivf_cell_stats sees the SAME drift
# from the index side, this lane sees it from the data side). Here the
# populations are two corpus clusters (label 0 vs label 1), so the drift
# is real and the expected PSI materially nonzero.
#
# Determinism: fixed bin edges (floor(x * 8) clamped to [-5, 4], computed
# in DOUBLE after an exact float32 -> double cast, identical IEEE ops in
# both engines), Laplace-smoothed fractions over the FULL 10-bin grid
# ((c + 1) / (n + 10) — zero-count bins contribute, so no -inf logs), and
# one final round(psi, 6). ln() agrees between JVM StrictMath and DuckDB
# here for the same reason text_unigram_logprob's does: inputs are exact
# small rationals and the sum is far from rounding knife-edges.

PSI_SQL = """WITH vals AS (
  SELECT CASE WHEN label = 0 THEN 0 ELSE 1 END AS pop,
         d.dim AS dim,
         CAST(embedding[d.dim + 1] AS DOUBLE) AS x
  FROM embeddings, (SELECT unnest([0, 1, 2, 3]) AS dim) d
  WHERE label IN (0, 1)
),
binned AS (
  SELECT dim, pop,
         least(greatest(CAST(floor(x * 8) AS BIGINT), -5), 4) AS bin,
         count(*)::BIGINT AS c
  FROM vals GROUP BY 1, 2, 3
),
pops AS (SELECT dim, pop, sum(c)::BIGINT AS n FROM binned GROUP BY 1, 2),
grid AS (
  SELECT dims.dim, p.pop, b.bin
  FROM (SELECT DISTINCT dim FROM binned) dims,
       (SELECT DISTINCT pop FROM binned) p,
       (SELECT unnest(range(-5, 5)) AS bin) b
),
frac AS (
  SELECT g.dim, g.pop, g.bin,
         (COALESCE(c.c, 0) + 1.0) / (p.n + 10.0) AS f
  FROM grid g
  LEFT JOIN binned c ON c.dim = g.dim AND c.pop = g.pop AND c.bin = g.bin
  JOIN pops p ON p.dim = g.dim AND p.pop = g.pop
),
wide AS (
  SELECT dim, bin,
         max(CASE WHEN pop = 0 THEN f END) AS p,
         max(CASE WHEN pop = 1 THEN f END) AS q
  FROM frac GROUP BY dim, bin
)
SELECT w.dim,
       (SELECT n FROM pops WHERE dim = w.dim AND pop = 0) AS n_ref,
       (SELECT n FROM pops WHERE dim = w.dim AND pop = 1) AS n_cand,
       round(sum((p - q) * ln(p / q)), 6) + 0 AS psi
FROM wide w GROUP BY w.dim ORDER BY w.dim"""


@register("embedding_drift_psi", PSI_SQL)
def q_embedding_drift_psi(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings").filter(F.col("label").isin(0, 1))
    vals = emb.select(
        F.when(F.col("label") == 0, F.lit(0)).otherwise(F.lit(1)).alias("pop"),
        # slice BEFORE the corpus-sized explode: only the 4 probed dims
        # ever become rows (a posexplode-then-filter shape generates and
        # discards 94% of the exploded rows on a 64-dim corpus)
        F.posexplode(
            F.slice(F.col("embedding").cast("array<double>"), 1, 4)
        ).alias("dim", "x"),
    )
    binned = (
        vals.withColumn(
            "bin",
            F.least(
                F.greatest(F.floor(F.col("x") * 8).cast("long"), F.lit(-5)),
                F.lit(4),
            ),
        )
        .groupBy("dim", "pop", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # <= 80 rows, but its subtree is the corpus scan+explode: the four
    # consumers below (pops, grid x2, frac's join) must not re-run it
    binned = binned.persist()
    pops = binned.groupBy("dim", "pop").agg(F.sum("c").alias("n"))
    # full 10-bin grid so zero-count bins still contribute their smoothed
    # fraction (tiny frames: 4 dims x 2 pops x 10 bins — broadcast-sized)
    grid = (
        binned.select("dim").distinct()
        .crossJoin(binned.select("pop").distinct())
        .crossJoin(spark.range(-5, 5).select(F.col("id").alias("bin")))
    )
    frac = (
        grid.join(binned, ["dim", "pop", "bin"], "left")
        .join(pops, ["dim", "pop"])
        .select(
            "dim", "pop", "bin",
            (
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("n") + F.lit(10.0))
            ).alias("f"),
        )
    )
    wide = frac.groupBy("dim", "bin").agg(
        F.max(F.when(F.col("pop") == 0, F.col("f"))).alias("p"),
        F.max(F.when(F.col("pop") == 1, F.col("f"))).alias("q"),
    )
    n_by = pops.groupBy("dim").agg(
        F.max(F.when(F.col("pop") == 0, F.col("n"))).alias("n_ref"),
        F.max(F.when(F.col("pop") == 1, F.col("n"))).alias("n_cand"),
    )
    return (
        wide.groupBy("dim")
        .agg(
            (
                F.round(
                    F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))),
                    6,
                )
                + F.lit(0.0)
            ).alias("psi")
        )
        .join(n_by, "dim")
        .select("dim", "n_ref", "n_cand", "psi")
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# Adversarial-skew dedup (VERDICT r14 item 4): real 100 TB corpora have
# boilerplate STORMS — one license header in a few percent of all
# documents puts every one of its band keys into a single mega-bucket,
# and an unsalted bucket self-join would land that whole quadratic task
# on one executor. This lane plants exactly that storm (4% identical + 4%
# near-identical text) and runs the SALTED candidate join with a cap low
# enough that the salting path is exercised at every sweep scale
# (bucket_cap=8: the storm bucket is 40 members at sf0.001/sf0.01, 400 at
# sf0.1). The oracle is the plain UNSALTED SQL pair join — a hash match
# IS the "salting changes the schedule, never the pair set" proof, at
# driver-gate scale, every round. The straggler bound itself (max salted
# task group ~= cap, not storm-size) is pinned in tests/test_dedup.py and
# measured in the r15 scale probe.

_STORM_LICENSE = (
    "licensed under the apache license version two point zero you may "
    "not use this file except in compliance with the license you may "
    "obtain a copy of the license at the usual location"
)
_STORM_VARIANT = _STORM_LICENSE + " or from the mirror"


def _skew_corpus(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 25 == 0, F.lit(_STORM_LICENSE))
        .when(F.col("doc_id") % 25 == 1, F.lit(_STORM_VARIANT))
        .otherwise(F.col("text")),
    )


_SKEW_CORPUS_CTE = f"""
corpus AS (
  SELECT doc_id,
         CASE WHEN doc_id % 25 = 0 THEN '{_STORM_LICENSE}'
              WHEN doc_id % 25 = 1 THEN '{_STORM_VARIANT}'
              ELSE text END AS text
  FROM documents
)
"""


@register(
    "dedup_skew_storm",
    f"WITH {_SKEW_CORPUS_CTE.strip()}, {SHINGLES_CTE.strip()}, {SIGS_CTE.strip()} "
    "SELECT id1, id2 FROM pairs",
)
def q_dedup_skew_storm(spark, sf_dir):
    return dedup.lsh_candidate_pairs(
        dedup.minhash_signatures_docs(_skew_corpus(spark, sf_dir)),
        bucket_cap=8,
    )
