"""Corpus-curation queries: PII scrubbing, repetition statistics, and a
Gopher-style composite quality filter (Rae et al. 2021, "Scaling Language
Models" §A1.1 — the published web-corpus filter family).

The synthetic documents are digit-free word salad, so PII features are
PLANTED deterministically from doc_id (same technique as the dedup
corpus's planted duplicates): both engines construct byte-identical dirty
text, so counts and redaction hashes have a known ground truth instead of
vacuous all-zero matches.

Threshold comparisons in the quality filter are INTEGER-exact (e.g. mean
word length in [2,12] tested as ``sum_chars BETWEEN 2*n AND 12*n``) so no
float boundary can disagree between engines.

All regexes live in the Java-regex ∩ RE2 common subset; the oracle uses
the literally identical pattern strings from functions/text.PII_PATTERNS.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import text as TX
from ..session import load, spread
from .common import register

# ---------------------------------------------------------------------------
# planted-PII construction (keep the Spark and SQL templates in lockstep)


def _dirty_col():
    did = F.col("doc_id")
    s = did.cast("string")
    return F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" Contact user"), s, F.lit("@example.com now.")),
        ).otherwise(F.lit("")),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit(" Host 10."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
                F.lit("."),
                ((did % 100) + 1).cast("string"),
                F.lit(" up."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" Call +49-555-"),
                F.lpad(((did * 13) % 10000).cast("string"), 4, "0"),
                F.lit("."),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(F.lit(" See https://example.org/doc/"), s, F.lit(" page.")),
        ).otherwise(F.lit("")),
    )


_DIRTY_CTE = """
dirty AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' Contact user' || doc_id || '@example.com now.' ELSE '' END
         || CASE WHEN doc_id % 4 = 0
                 THEN ' Host 10.' || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                      || '.' || ((doc_id % 100) + 1) || ' up.' ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' Call +49-555-' || lpad(((doc_id * 13) % 10000)::VARCHAR, 4, '0')
                      || '.' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' See https://example.org/doc/' || doc_id || ' page.' ELSE '' END
         AS t
  FROM documents
)
"""


def _pii_sql() -> str:
    pats = {name: pat for name, pat, _ in TX.PII_PATTERNS}
    # nested replace chain, outermost = last applied (phone), matching the
    # Spark redact_pii application order url -> email -> ipv4 -> phone
    redacted = "t"
    for name, pat, token in TX.PII_PATTERNS:
        redacted = f"regexp_replace({redacted}, '{pat}', '{token}', 'g')"
    return f"""WITH {_DIRTY_CTE.strip()}
SELECT doc_id,
       len(regexp_extract_all(t, '{pats["url"]}'))::BIGINT AS n_url,
       len(regexp_extract_all(t, '{pats["email"]}'))::BIGINT AS n_email,
       len(regexp_extract_all(t, '{pats["ipv4"]}'))::BIGINT AS n_ipv4,
       len(regexp_extract_all(t, '{pats["phone"]}'))::BIGINT AS n_phone,
       md5({redacted}) AS redacted_hash
FROM dirty"""


@register("text_pii_redact", _pii_sql())
def q_text_pii_redact(spark, sf_dir):
    """Count and redact planted PII (url/email/ipv4/phone). Counts come
    from the dirty text; the hash proves the redaction chain rewrote every
    occurrence byte-identically to the oracle's chain."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    dirty = docs.select("doc_id", _dirty_col().alias("t"))
    counts = TX.pii_counts(F.col("t"))
    return dirty.select(
        "doc_id",
        counts["url"].alias("n_url"),
        counts["email"].alias("n_email"),
        counts["ipv4"].alias("n_ipv4"),
        counts["phone"].alias("n_phone"),
        F.md5(TX.redact_pii(F.col("t"))).alias("redacted_hash"),
    )


# ---------------------------------------------------------------------------
# repetition statistics (Gopher's duplicate-n-gram family)


@register(
    "text_repetition",
    r"""WITH tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
  FROM tokd, unnest(range(1, len(toks))) AS r(i)
  WHERE len(toks) >= 2
),
cnt AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
agg AS (
  SELECT doc_id, max(c) AS top, sum(c) AS tot,
         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
  FROM cnt GROUP BY doc_id
)
SELECT d.doc_id,
       round(coalesce(a.top::DOUBLE / a.tot, 0.0), 6) + 0.0 AS top_bigram_frac,
       round(coalesce(a.dup::DOUBLE / a.tot, 0.0), 6) + 0.0 AS dup_bigram_frac
FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id""",
)
def q_text_repetition(spark, sf_dir):
    """Per-doc word-bigram repetition: share of the single most frequent
    bigram, and share of all bigram occurrences that are repeats.

    ONE shuffle total: the explicit repartition on doc_id is the only
    exchange — HashPartitioning(doc_id) satisfies the clustered
    distribution of BOTH downstream aggregations (doc_id+bg, then doc_id),
    so they chain shuffle-free. explode_outer keeps zero-bigram docs as a
    null-bg row (filtered out of the stats but holding the doc's place),
    which eliminates the join-back that would otherwise broadcast the
    whole per-doc aggregate. Partitioning by doc alone is skew-safe:
    document length is bounded, so no key exceeds one doc's bigrams."""
    docs = load(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", F.explode_outer(TX.word_shingles(F.col("text"), 2)).alias("bg")
    )
    real = F.col("bg").isNotNull()
    agg = (
        bg.repartition("doc_id")
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(real, F.col("c"))).alias("top"),
            F.sum(F.when(real, F.col("c"))).alias("tot"),
            F.sum(F.when(real & (F.col("c") > 1), F.col("c")).otherwise(0)).alias(
                "dup"
            ),
        )
    )
    return agg.select(
        "doc_id",
        (
            F.round(
                F.coalesce(
                    F.col("top").cast("double") / F.col("tot"), F.lit(0.0)
                ),
                6,
            )
            + 0.0
        ).alias("top_bigram_frac"),
        (
            F.round(
                F.coalesce(
                    F.col("dup").cast("double") / F.col("tot"), F.lit(0.0)
                ),
                6,
            )
            + 0.0
        ).alias("dup_bigram_frac"),
    )


# ---------------------------------------------------------------------------
# composite quality filter (integer-exact thresholds)


@register(
    "text_gopher_filter",
    r"""WITH tokd AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks)::BIGINT AS n_tok,
         coalesce(list_sum(list_transform(toks, x -> length(x))), 0)::BIGINT AS sum_chars,
         len(list_distinct(toks))::BIGINT AS n_distinct
  FROM tokd
)
SELECT doc_id, n_tok, sum_chars, n_distinct,
       (n_tok BETWEEN 5 AND 10000)::INT AS ok_len,
       (sum_chars BETWEEN 2 * n_tok AND 12 * n_tok)::INT AS ok_word,
       (n_distinct * 5 >= n_tok)::INT AS ok_div,
       (n_tok BETWEEN 5 AND 10000
        AND sum_chars BETWEEN 2 * n_tok AND 12 * n_tok
        AND n_distinct * 5 >= n_tok)::INT AS keep
FROM m""",
)
def q_text_gopher_filter(spark, sf_dir):
    """Gopher-style keep/drop per document: token-count bounds [5,10000],
    mean word length in [2,12], distinct-token ratio >= 0.2 — all tested
    in integer arithmetic so the decision is bit-exact across engines.
    One narrow scan, zero shuffles: every metric is a per-row array
    expression inside whole-stage codegen."""
    docs = spread(load(spark, sf_dir, "documents"))
    toks = TX.tokens(F.col("text"))
    n_tok = F.size(toks).cast("long")
    sum_chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    base = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        sum_chars.alias("sum_chars"),
        n_distinct.alias("n_distinct"),
    )
    ok_len = F.col("n_tok").between(5, 10000)
    ok_word = F.col("sum_chars").between(
        2 * F.col("n_tok"), 12 * F.col("n_tok")
    )
    ok_div = F.col("n_distinct") * 5 >= F.col("n_tok")
    return base.select(
        "doc_id",
        "n_tok",
        "sum_chars",
        "n_distinct",
        ok_len.cast("int").alias("ok_len"),
        ok_word.cast("int").alias("ok_word"),
        ok_div.cast("int").alias("ok_div"),
        (ok_len & ok_word & ok_div).cast("int").alias("keep"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer, Wilkerson, Aiken — SIGMOD'03 "Winnowing:
# Local Algorithms for Document Fingerprinting", the MOSS algorithm).
# k=5 char-grams hashed with md5; window w=4; one fingerprint = the minimum
# hash in each window (lexicographic over the hex digest — identical total
# order in both engines). Guarantees: any shared substring of length
# >= w + k - 1 (= 8) contributes at least one common fingerprint.

_WINNOW_K = 5
_WINNOW_W = 4


@register(
    "text_winnowing",
    f"""WITH g AS (
  SELECT doc_id,
         list_transform(
           range(1, greatest(length(lower(text)) - {_WINNOW_K} + 2, 1)),
           i -> md5(substring(lower(text), i, {_WINNOW_K}))
         ) AS hashes
  FROM documents
),
m AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(
           range(1, greatest(len(hashes) - {_WINNOW_W} + 2, 1)),
           i -> list_min(list_slice(hashes, i, i + {_WINNOW_W} - 1))
         ))) AS fps
  FROM g
)
SELECT doc_id,
       len(fps)::BIGINT AS n_fp,
       md5(array_to_string(fps, '')) AS fp_digest
FROM m""",
)
def q_text_winnowing(spark, sf_dir):
    """Per-doc winnowing fingerprint set, emitted as (count, digest of the
    sorted set) so the oracle checks the exact selected hashes, not just a
    cardinality.

    Implemented as an Arrow-batched pandas UDF, NOT Catalyst array
    expressions: one md5 per gram times a window-min per position is
    exactly the shape where interpreted HOF lambdas collapse (measured
    ~160s for 500 docs via transform/slice/array_min vs ~2s batched) —
    the documented exception where Python-side batch code beats
    staying JVM-side. Still a pure map stage: no shuffle; at scale this
    feeds a fingerprint-join dedup (group by fingerprint -> candidate
    pairs), the same block-then-verify shape as dedup_minhash_lsh."""
    import hashlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    k, w = _WINNOW_K, _WINNOW_W

    def _winnow(texts):
        n_fps, digests = [], []
        for t in texts:
            t = (t or "").lower()
            hs = [
                hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()
                for i in range(len(t) - k + 1)
            ]
            mins = {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}
            fps = sorted(mins)
            n_fps.append(len(fps))
            digests.append(hashlib.md5("".join(fps).encode("ascii")).hexdigest())
        return pd.DataFrame({"n_fp": n_fps, "fp_digest": digests})

    _winnow.__annotations__ = {"texts": pd.Series, "return": pd.DataFrame}
    udf = pandas_udf(_winnow, "n_fp long, fp_digest string")

    docs = spread(load(spark, sf_dir, "documents"))
    out = docs.select("doc_id", udf(F.col("text")).alias("_w"))
    return out.select("doc_id", "_w.n_fp", "_w.fp_digest")


# ---------------------------------------------------------------------------
# deterministic stratified sampling


@register(
    "corpus_stratified_sample",
    """WITH h AS (
  SELECT doc_id, lang, n_chars,
         ('0x' || substr(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS bucket
  FROM documents
),
kept AS (
  SELECT * FROM h
  WHERE bucket < CASE lang WHEN 'en' THEN 60 WHEN 'es' THEN 40
                           WHEN 'de' THEN 40 WHEN 'fr' THEN 30
                           WHEN 'zh' THEN 20 ELSE 10 END
)
SELECT lang, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS total_chars,
       min(doc_id)::BIGINT AS min_id, max(doc_id)::BIGINT AS max_id
FROM kept GROUP BY lang""",
)
def q_corpus_stratified_sample(spark, sf_dir):
    """Per-language sampling at language-specific rates (downsample
    over-represented languages — the standard corpus-mixing move) using a
    content-free md5 id-hash instead of RNG: the same doc is kept in every
    run, on every engine, under any partitioning. Map-side filter + one
    aggregate; the CASE rate table is the only 'configuration'."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long")
        % 100
    )
    rate = (
        F.when(F.col("lang") == "en", 60)
        .when(F.col("lang") == "es", 40)
        .when(F.col("lang") == "de", 40)
        .when(F.col("lang") == "fr", 30)
        .when(F.col("lang") == "zh", 20)
        .otherwise(10)
    )
    return (
        d.filter(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate mining: word n-grams shared by many documents
# (the curation step that finds repeated headers/footers/licenses before
# line-level dedup — C4/RefinedWeb-style). Reuses the map-only shingle
# operator; the only shuffles are the per-doc distinct and the gram count.

@register(
    "corpus_boilerplate_ngrams",
    """WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
)
SELECT gram, count(*)::BIGINT AS n_docs
FROM grams GROUP BY 1 HAVING count(*) >= 3
ORDER BY n_docs DESC, gram LIMIT 20""",
)
def q_corpus_boilerplate_ngrams(spark, sf_dir):
    from ..operators.dedup import shingle_sets

    docs = spread(load(spark, sf_dir, "documents"))
    grams = shingle_sets(docs, id_col="doc_id", text_col="text", k=5)
    return (
        grams.groupBy(F.col("shingle").alias("gram"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (Efraimidis-Spirakis, log form): rank by
# ln(u)/weight with u a content-free md5 uniform — longer documents are
# proportionally likelier, yet the same docs win on every run, engine, and
# partitioning (no RNG). Ranking uses the ROUNDED key + unique id so both
# engines order identically. Map-only scoring + one top-k.

@register(
    "corpus_weighted_sample",
    """WITH h AS (
  SELECT doc_id, lang, n_chars,
         (('0x' || substr(md5(doc_id::VARCHAR), 1, 13))::BIGINT + 1)
           / 4503599627370497.0 AS u
  FROM documents
),
k AS (
  SELECT doc_id, lang, n_chars,
         round(ln(u) / n_chars * 100000, 6) + 0 AS skey
  FROM h WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars, skey FROM k
ORDER BY skey DESC, doc_id LIMIT 20""",
)
def q_corpus_weighted_sample(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(4503599627370497.0)
    return (
        docs.filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (F.round(F.log(u) / F.col("n_chars") * 100000, 6) + F.lit(0.0)).alias(
                "skey"
            ),
        )
        .orderBy(F.col("skey").desc(), "doc_id")
        .limit(20)
    )


# Deterministic histogram quantiles: fixed 0.1-wide bins over the value
# column, estimates read off the cumulative histogram at ceil(q*N) — the
# fixed-bin sketch every metrics pipeline uses (mergeable: bins sum), with
# identical integer arithmetic in both engines. The cumulative window runs
# over <= a few thousand BINS, not rows — bounded at any scale.

@register(
    "events_value_quantiles_hist",
    """WITH b AS (
  SELECT floor(value * 10)::BIGINT AS bin, count(*)::BIGINT AS n
  FROM events GROUP BY 1
),
c AS (
  SELECT bin, sum(n) OVER (ORDER BY bin) AS cum,
         (SELECT sum(n) FROM b)::BIGINT AS total
  FROM b
)
SELECT max(total)::BIGINT AS n_events,
       (min(CASE WHEN cum >= ceiling(0.50 * total) THEN bin END) / 10.0) AS p50,
       (min(CASE WHEN cum >= ceiling(0.95 * total) THEN bin END) / 10.0) AS p95,
       (min(CASE WHEN cum >= ceiling(0.99 * total) THEN bin END) / 10.0) AS p99
FROM c""",
)
def q_events_value_quantiles_hist(spark, sf_dir):
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    b = ev.groupBy(
        F.floor(F.col("value") * 10).cast("long").alias("bin")
    ).agg(F.count("*").alias("n"))
    # cumulative over BINS (bounded small), not events — the one place an
    # unpartitioned window is the right tool
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    c = b.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(Window.partitionBy())
    )

    def q_at(q):
        return (
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(q) * F.col("total")), F.col("bin")
                )
            )
            / 10.0
        )

    return c.agg(
        F.max("total").alias("n_events"),
        q_at(0.50).alias("p50"),
        q_at(0.95).alias("p95"),
        q_at(0.99).alias("p99"),
    )


# Temperature-scaled mixture weights (the multilingual-corpus sampling
# move: p_i^alpha re-balances toward low-resource groups as alpha -> 0).
# One aggregate + a broadcast scalar; alpha = 0.7, the usual choice.

@register(
    "corpus_mixture_weights",
    """WITH counts AS (
  SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang
),
powed AS (
  SELECT lang, n_docs, pow(n_docs, 0.7) AS p FROM counts
),
tot AS (SELECT sum(p) AS z FROM powed)
SELECT lang, n_docs,
       round(p / z, 6) + 0 AS mixture_weight,
       round(p / z * 10000, 6) + 0 AS docs_per_10k
FROM powed, tot ORDER BY lang""",
)
def q_corpus_mixture_weights(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    powed = counts.withColumn("p", F.pow("n_docs", F.lit(0.7)))
    z = powed.agg(F.sum("p").alias("z"))
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            "lang",
            "n_docs",
            (F.round(F.col("p") / F.col("z"), 6) + F.lit(0.0)).alias("mixture_weight"),
            (F.round(F.col("p") / F.col("z") * 10000, 6) + F.lit(0.0)).alias(
                "docs_per_10k"
            ),
        )
        .orderBy("lang")
    )


# Unigram log-probability scoring — the relational stand-in for the
# LM-perplexity quality filter (no model runtime in container): build the
# corpus unigram distribution (add-one smoothed) in one explode+aggregate,
# broadcast-join it back onto each document's tokens, and average log p.
# Low scores flag out-of-distribution/garbled documents. At 100 TB the
# vocabulary table is the only shuffled artifact; scoring is an equi-join
# on token.

@register(
    "text_unigram_logprob",
    """WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                    x -> x <> '')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok, count(*)::BIGINT AS c FROM toks GROUP BY tok
),
stats AS (
  SELECT sum(c)::BIGINT AS total, count(*)::BIGINT AS v FROM vocab
),
scored AS (
  SELECT t.doc_id,
         count(*)::BIGINT AS n_tokens,
         sum(ln((v2.c + 1.0) / (s.total + s.v))) AS lp
  FROM toks t JOIN vocab v2 USING (tok), stats s
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens, round(lp / n_tokens, 6) + 0 AS avg_logprob
FROM scored ORDER BY doc_id""",
)
def q_text_unigram_logprob(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    stats = vocab.agg(
        F.sum("c").alias("total"), F.count("*").alias("v")
    )
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(
                F.log((F.col("c") + 1.0) / (F.col("total") + F.col("v")))
            ).alias("lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (F.round(F.col("lp") / F.col("n_tokens"), 6) + F.lit(0.0)).alias(
            "avg_logprob"
        ),
    ).orderBy("doc_id")


# Zipf slope: regress ln(freq) on ln(rank) over the top-1000 tokens with
# the built-in regr_slope aggregate — the classic corpus-health diagnostic
# (natural language sits near -1; template/boilerplate corpora flatten).
# The rank window runs over 1000 VOCABULARY rows, never the corpus.

@register(
    "corpus_zipf_slope",
    """WITH vocab AS (
  SELECT tok, count(*)::BIGINT AS freq
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                                  x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok
),
ranked AS (
  SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rnk
  FROM vocab
)
SELECT count(*)::BIGINT AS n_tokens_fit,
       round(regr_slope(ln(freq), ln(rnk)), 6) + 0 AS zipf_slope,
       round(regr_r2(ln(freq), ln(rnk)), 6) + 0 AS r2
FROM ranked WHERE rnk <= 1000""",
)
def q_corpus_zipf_slope(spark, sf_dir):
    from pyspark.sql import Window

    docs = spread(load(spark, sf_dir, "documents"))
    vocab = docs.select(
        F.explode(TX.tokens(F.col("text"))).alias("tok")
    ).groupBy("tok").agg(F.count("*").alias("freq"))
    # TakeOrderedAndProject picks the top-1000 vocabulary rows (per-
    # partition heaps, no global sort), so the rank window below runs
    # over <= 1000 rows even when the vocabulary itself is huge
    top = vocab.orderBy(F.col("freq").desc(), "tok").limit(1000)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.col("freq").desc(), "tok")),
    )
    return ranked.agg(
        F.count("*").alias("n_tokens_fit"),
        (F.round(F.regr_slope(F.log("freq"), F.log("rnk")), 6) + F.lit(0.0)).alias(
            "zipf_slope"
        ),
        (F.round(F.regr_r2(F.log("freq"), F.log("rnk")), 6) + F.lit(0.0)).alias("r2"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (Xie et al. 2023, "Data Selection for Language
# Models via Importance Resampling"): score every raw document by the
# log-likelihood ratio of a hashed-unigram model of the TARGET domain
# (here: the English subset) against the raw-corpus model. High scores =
# "looks like the target distribution" — the published recipe for picking
# pretraining data that matches a quality domain without a model runtime.
#
# Determinism: the per-bucket log-ratio is quantized ONCE to integer
# micro-nats (round(ln(q)*1e6)); per-document weights are then exact
# BIGINT sums of (count x micro), so no float-summation-order divergence
# between engines is possible. The single ln() runs on a correctly-rounded
# double ratio of exact integer products (each factor < 2^53 at test SF;
# at extreme corpus sizes switch the ratio to the ln-subtraction form).
#
# Scale posture (100 TB): token->bucket is map-only (one md5 + mod); the
# distributions are ONE 64-row aggregate each (map-side partial combine);
# the ratio table broadcasts; the only corpus-sized shuffle is the
# per-(doc,bucket) aggregate, which is the minimum any per-doc scorer pays.

_DSIR_B = 4096  # hashed feature buckets (paper uses 10k; ratio table stays broadcastable)

@register(
    "corpus_dsir_weights",
    f"""WITH toks AS (
  SELECT doc_id, lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents
),
tb AS (
  SELECT doc_id, lang,
         ('0x' || substr(md5(tok), 1, 6))::BIGINT % {_DSIR_B} AS b
  FROM toks
),
raw AS (SELECT b, count(*)::BIGINT AS r FROM tb GROUP BY b),
tgt AS (SELECT b, count(*)::BIGINT AS t FROM tb WHERE lang = 'en' GROUP BY b),
tot AS (
  SELECT (SELECT sum(r) FROM raw)::BIGINT AS rtot,
         (SELECT coalesce(sum(t), 0) FROM tgt)::BIGINT AS ttot
),
ratio AS (
  SELECT raw.b,
         CAST(round(ln(((coalesce(tgt.t, 0) + 1.0) * (tot.rtot + {_DSIR_B}))
                       / ((raw.r + 1.0) * (tot.ttot + {_DSIR_B})))
                    * 1000000) AS BIGINT) AS micro
  FROM raw LEFT JOIN tgt USING (b), tot
),
perdoc AS (
  SELECT doc_id, b, count(*)::BIGINT AS c FROM tb GROUP BY doc_id, b
),
sums AS (
  SELECT p.doc_id,
         sum(p.c)::BIGINT AS n_tokens,
         sum(p.c * ratio.micro)::BIGINT AS wmicro
  FROM perdoc p JOIN ratio USING (b)
  GROUP BY p.doc_id
)
SELECT doc_id, n_tokens,
       (CASE WHEN wmicro < 0
             THEN -((-2 * wmicro + n_tokens) // (2 * n_tokens))
             ELSE (2 * wmicro + n_tokens) // (2 * n_tokens) END)
       / 1000000.0 + 0 AS dsir_w
FROM sums ORDER BY doc_id""",
)
def q_corpus_dsir_weights(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents"))
    tb = docs.select(
        "doc_id",
        "lang",
        F.explode(TX.tokens(F.col("text"))).alias("tok"),
    ).select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.col("tok")), 1, 6), 16, 10).cast("long")
            % _DSIR_B
        ).alias("b"),
    )
    # ONE corpus explode + ONE token-stream shuffle: the per-(doc,bucket)
    # counts are the finest grain, so the bucket distributions derive from
    # them (pre-aggregated rows, ~tokens/doc smaller) instead of paying
    # two more explode passes over the raw corpus. The 100x replica probe
    # measured the three-scan form superlinear; this one is the linear
    # minimum any per-doc scorer pays.
    perdoc = (
        tb.groupBy("doc_id", "lang", "b")
        .agg(F.count("*").alias("c"))
        .persist()
    )
    raw = perdoc.groupBy("b").agg(F.sum("c").alias("r"))
    tgt = perdoc.filter(F.col("lang") == "en").groupBy("b").agg(
        F.sum("c").alias("t")
    )
    # the ratio table is <= B = 4096 rows regardless of corpus size, so it
    # folds on the DRIVER with python's math.log — the same glibc log
    # DuckDB's ln() calls, unlike the JVM's StrictMath.log, which drifts
    # an ulp on knife-edge buckets and flipped one micro unit at sf0.1.
    # The numerator/denominator products stay exact integers (< 2^53),
    # so the ONLY float op in the contract is that one shared log.
    import math

    raw_counts = {int(r["b"]): int(r["r"]) for r in raw.collect()}
    tgt_counts = {int(r["b"]): int(r["t"]) for r in tgt.collect()}
    rtot = sum(raw_counts.values())
    ttot = sum(tgt_counts.values())
    def _half_away(d: float) -> int:
        # SQL round(): half away from zero (python's round is half-even)
        return int(math.floor(abs(d) + 0.5)) * (1 if d >= 0 else -1)

    ratio_rows = [
        (
            b,
            _half_away(
                math.log(
                    ((tgt_counts.get(b, 0) + 1.0) * (rtot + _DSIR_B))
                    / ((r + 1.0) * (ttot + _DSIR_B))
                )
                * 1000000
            ),
        )
        for b, r in sorted(raw_counts.items())
    ]
    ratio = spark.createDataFrame(ratio_rows, "b long, micro long")
    return (
        perdoc.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.col("c") * F.col("micro")).alias("_wmicro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            # per-doc mean in INTEGER micro-units, half-away division —
            # exact BIGINT arithmetic in both engines, so the output
            # double (int / 1e6) is bit-identical with NO float round()
            # in the contract. (round(double, 6) was the last knife edge:
            # Spark's BigDecimal HALF_UP and DuckDB's float-path round
            # disagreed on an exactly-half value at sf0.1.)
            (
                F.when(
                    F.col("_wmicro") < 0,
                    -F.expr("div(-2 * _wmicro + n_tokens, 2 * n_tokens)"),
                ).otherwise(
                    F.expr("div(2 * _wmicro + n_tokens, 2 * n_tokens)")
                )
                / F.lit(1000000.0)
                + F.lit(0.0)
            ).alias("dsir_w"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Exact repeated-span coverage (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better"): for every document, the fraction of
# token positions covered by an exact 8-token span that also occurs in at
# least one OTHER document. This is the document-level measurement behind
# substring-level dedup — high-coverage docs are near-copies or heavy
# boilerplate carriers even when no full-document hash matches.
#
# Scale posture (100 TB): gram construction is map-only (explode positions
# + slice + one md5 — the same codegen shape as shingle_sets, never a
# window); cross-doc grams come from ONE aggregate on the gram hash; the
# join back is an equi semi-join; coverage is a bounded 8x position
# explode + distinct over only the duplicated occurrences. No all-pairs
# step anywhere — cost is linear in corpus token count.

_SPAN_K = 8  # span length in tokens

@register(
    "text_dedup_spans",
    f"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, i, md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS g
  FROM toks, unnest(range(1, len(t) - {_SPAN_K - 2})) AS r(i)
  WHERE len(t) >= {_SPAN_K}
),
dup AS (
  SELECT g FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
),
cov AS (
  SELECT DISTINCT grams.doc_id, pos
  FROM grams JOIN dup USING (g),
       unnest(range(grams.i, grams.i + {_SPAN_K})) AS s(pos)
),
n AS (
  SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks WHERE len(t) >= {_SPAN_K}
)
SELECT n.doc_id, n.n_tokens,
       coalesce(c.n_dup, 0)::BIGINT AS n_dup_tokens,
       round(coalesce(c.n_dup, 0) / CAST(n.n_tokens AS DOUBLE), 6) + 0 AS dup_frac
FROM n LEFT JOIN (
  SELECT doc_id, count(*)::BIGINT AS n_dup FROM cov GROUP BY doc_id
) c USING (doc_id)
ORDER BY dup_frac DESC, n.doc_id LIMIT 100""",
)
def q_text_dedup_spans(spark, sf_dir):
    k = _SPAN_K
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        TX.tokens(F.col("text")).alias("_toks"),
    ).filter(F.size("_toks") >= k)
    grams = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.size("_toks") - (k - 1))).alias("i"),
        "_toks",
    ).select(
        "doc_id",
        "i",
        F.md5(F.concat_ws(" ", F.slice("_toks", F.col("i"), k))).alias("g"),
    )
    # ONE gram construction, not two: the dup-gram aggregate and the
    # occurrence stream both come from a single groupBy((g, doc_id)) that
    # compacts each doc's positions for a gram into one row. The
    # alternative (count_distinct per g, then semi-join the re-built gram
    # stream back) tokenizes + hashes the whole corpus twice and shuffles
    # the full gram stream twice; here the stream shuffles once and the
    # cross-doc test is a count window over the COMPACT (g, doc) rows —
    # one row per document a gram appears in, so even a corpus-wide
    # boilerplate gram contributes #docs rows (sort-window, spillable),
    # never a collected list.
    from pyspark.sql import Window

    # repartition by g ALONE before the (g, doc_id) aggregate: hash
    # partitioning on g satisfies the clustered-distribution requirement
    # of both the aggregate (g is a prefix of its keys) and the count
    # window below, so the gram stream crosses the wire ONCE instead of
    # once for the aggregate and again for the window.
    gd = (
        grams.repartition("g")
        .groupBy("g", "doc_id")
        .agg(F.collect_list("i").alias("_starts"))
    )
    dupocc = gd.withColumn(
        "_nd", F.count("*").over(Window.partitionBy("g"))
    ).filter(F.col("_nd") >= 2)
    # coverage by PER-DOC INTERVAL MERGE, not position explode: collecting
    # the duplicated gram starts and merging the [i, i+k) intervals inside
    # one aggregate HOF shuffles 1x the duplicated-gram stream, where the
    # explode(pos)+distinct form shuffles kx of it and pays a second
    # global dedup — an 8x shuffle-volume cut at k=8. Per-doc state is
    # bounded by the doc's token count (sorted starts), never corpus-sized.
    cov = (
        dupocc.select("doc_id", F.explode("_starts").alias("i"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("i")).alias("_starts"))
        .select(
            "doc_id",
            F.aggregate(
                F.col("_starts"),
                F.struct(
                    F.lit(0).cast("long").alias("cov"),
                    F.lit(0).cast("long").alias("end"),
                ),
                lambda acc, s: F.struct(
                    (
                        acc["cov"]
                        + F.greatest(
                            s + F.lit(k) - F.greatest(s, acc["end"]), F.lit(0)
                        )
                    ).alias("cov"),
                    F.greatest(acc["end"], s + F.lit(k)).alias("end"),
                ),
                lambda acc: acc["cov"],
            ).alias("n_dup"),
        )
    )
    n = toks.select("doc_id", F.size("_toks").cast("long").alias("n_tokens"))
    return (
        n.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_tokens"),
            (
                F.round(
                    F.coalesce(F.col("n_dup"), F.lit(0))
                    / F.col("n_tokens").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("dup_frac"),
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# The composed curation pipeline — one plan that takes the raw corpus to a
# per-document training disposition, the way a materialization job actually
# runs (stages share scans instead of re-reading the corpus per filter):
#
#   1. benchmark      — held-out slice (doc_id % 97 = 0), never trained on
#   2. contaminated   — shares a 5-gram with the benchmark slice
#   3. exact_dup      — non-representative exact copy among survivors
#                       (representative = min doc_id per content hash)
#   4. quality        — fails the Gopher-style integer-exact filter
#   5. keep           — assigned a deterministic train/val/test split
#
# Precedence is top-down; each doc gets exactly one disposition. Dup
# grouping runs over stage-1/2 SURVIVORS so a contaminated copy never
# steals representative status from a clean one. Scale: the gram pass is
# the decontamination cost (map-only + one distinct + semi join); dup
# grouping is one hash aggregate; quality metrics are per-row array
# expressions; split is a pure hash expression — nothing quadratic, and
# the whole disposition is computed in one job.

@register(
    "corpus_curation_pipeline",
    """WITH tokd AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
  FROM tokd, unnest(range(1, len(toks) - 3)) AS r(i)
  WHERE len(toks) >= 5
),
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
contam AS (
  SELECT DISTINCT doc_id FROM grams JOIN bench USING (gram)
  WHERE doc_id % 97 <> 0
),
surv AS (
  SELECT * FROM tokd
  WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)
),
reps AS (SELECT md5(text) AS h, min(doc_id) AS rep_id FROM surv GROUP BY 1),
m AS (
  SELECT t.doc_id, t.lang,
         len(t.toks)::BIGINT AS n_tok,
         coalesce(list_sum(list_transform(t.toks, x -> length(x))), 0)::BIGINT AS sum_chars,
         len(list_distinct(t.toks))::BIGINT AS n_distinct,
         md5(t.text) AS h,
         ('0x' || substr(md5(t.doc_id::VARCHAR), 1, 2))::BIGINT AS hb,
         (t.doc_id % 97 = 0) AS is_bench,
         t.doc_id IN (SELECT doc_id FROM contam) AS is_contam
  FROM tokd t
),
d AS (
  SELECT m.doc_id, m.lang, m.hb,
         CASE WHEN is_bench THEN 'benchmark'
              WHEN is_contam THEN 'contaminated'
              WHEN rr.rep_id IS NOT NULL AND m.doc_id <> rr.rep_id THEN 'exact_dup'
              WHEN NOT (n_tok BETWEEN 5 AND 10000
                        AND sum_chars BETWEEN 2 * n_tok AND 12 * n_tok
                        AND n_distinct * 5 >= n_tok) THEN 'quality'
              ELSE 'keep' END AS disposition
  FROM m LEFT JOIN reps rr ON m.h = rr.h
)
SELECT doc_id, lang, disposition,
       CASE WHEN disposition = 'keep'
            THEN CASE WHEN hb < 230 THEN 'train'
                      WHEN hb < 243 THEN 'val'
                      ELSE 'test' END END AS split
FROM d ORDER BY doc_id""",
)
def q_corpus_curation_pipeline(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents"))
    tok_col = TX.tokens(F.col("text"))
    from ..operators.dedup import shingle_sets

    d = docs.select("doc_id", "lang", "text", tok_col.alias("_toks"))
    grams = shingle_sets(docs, k=5).withColumnRenamed("shingle", "gram")
    bench_grams = grams.filter(F.col("doc_id") % 97 == 0).select("gram").distinct()
    contam = (
        grams.filter(F.col("doc_id") % 97 != 0)
        .join(bench_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_contam", F.lit(1))
    )
    base = d.join(contam, "doc_id", "left")
    surv = base.filter(
        (F.col("doc_id") % 97 != 0) & F.col("_contam").isNull()
    )
    reps = surv.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("_rep")
    )
    m = base.withColumn("_h", F.md5("text")).join(reps, "_h", "left")
    n_tok = F.size("_toks").cast("long")
    sum_chars = F.aggregate(
        F.col("_toks"), F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    n_distinct = F.size(F.array_distinct(F.col("_toks"))).cast("long")
    gopher_ok = (
        n_tok.between(5, 10000)
        & sum_chars.between(2 * n_tok, 12 * n_tok)
        & (n_distinct * 5 >= n_tok)
    )
    hb = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "long"
    )
    disposition = (
        F.when(F.col("doc_id") % 97 == 0, "benchmark")
        .when(F.col("_contam").isNotNull(), "contaminated")
        .when(
            F.col("_rep").isNotNull() & (F.col("doc_id") != F.col("_rep")),
            "exact_dup",
        )
        .when(~gopher_ok, "quality")
        .otherwise("keep")
    )
    split = F.when(
        disposition == "keep",
        F.when(hb < 230, "train").when(hb < 243, "val").otherwise("test"),
    )
    return m.select(
        "doc_id", "lang", disposition.alias("disposition"), split.alias("split")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Epoch plan: convert temperature-scaled mixture weights into the per-
# source repeat plan a training run actually consumes — how many
# (milli-)epochs of each source to sample so the mixture hits the target
# under a fixed token budget, capped at 4 epochs (the published guidance
# that repeating data much beyond that stops helping — e.g. Muennighoff
# et al. 2023, "Scaling Data-Constrained Language Models"). One tiny
# aggregate (|sources| rows) + a broadcast scalar; everything else is
# per-row arithmetic.

_EPOCH_BUDGET = 2_000_000  # planning budget in chars (stand-in for tokens)
_EPOCH_CAP_MILLI = 4000    # 4.0 epochs

@register(
    "corpus_epoch_plan",
    f"""WITH counts AS (
  SELECT source, sum(n_chars)::BIGINT AS natural_chars
  FROM documents GROUP BY source
),
tot AS (SELECT sum(pow(natural_chars, 0.7)) AS z FROM counts)
SELECT source, natural_chars,
       round(pow(natural_chars, 0.7) / tot.z, 6) + 0 AS mix_w,
       least(CAST(round({_EPOCH_BUDGET}.0 * (pow(natural_chars, 0.7) / tot.z)
                        / natural_chars * 1000) AS BIGINT),
             {_EPOCH_CAP_MILLI}) AS epochs_milli
FROM counts, tot
ORDER BY source""",
)
def q_corpus_epoch_plan(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(
        F.sum("n_chars").alias("natural_chars")
    )
    tot = counts.agg(F.sum(F.pow("natural_chars", 0.7)).alias("z"))
    p = F.pow("natural_chars", 0.7) / F.col("z")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "natural_chars",
            (F.round(p, 6) + F.lit(0.0)).alias("mix_w"),
            F.least(
                F.round(
                    F.lit(float(_EPOCH_BUDGET)) * p / F.col("natural_chars") * 1000
                ).cast("long"),
                F.lit(_EPOCH_CAP_MILLI).cast("long"),
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Cross-source overlap matrix: for every pair of sources, how many
# distinct word 5-grams they share — the diagnostic that catches mirrored
# crawls / re-hosted dumps BEFORE doc-level dedup (two sources sharing
# half their grams are the same feed twice; per-document LSH then wastes
# a full pass discovering it pair by pair). Scale: gram generation is the
# map-only shingle operator keyed by SOURCE (distinct grams per source,
# not per doc); the pair join is equi-keyed on the gram and bounded by
# sources^2 rows per gram — never corpus-quadratic.

@register(
    "corpus_source_overlap",
    """WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
grams AS (
  SELECT DISTINCT source, array_to_string(t[i:i+4], ' ') AS gram
  FROM toks, unnest(range(1, len(t) - 3)) AS r(i)
  WHERE len(t) >= 5
)
SELECT a.source AS source1, b.source AS source2,
       count(*)::BIGINT AS shared_grams
FROM grams a JOIN grams b ON a.gram = b.gram AND a.source < b.source
GROUP BY 1, 2
ORDER BY shared_grams DESC, source1, source2
LIMIT 20""",
)
def q_corpus_source_overlap(spark, sf_dir):
    from ..operators.dedup import shingle_sets

    docs = load(spark, sf_dir, "documents")
    grams = shingle_sets(docs, id_col="source", k=5)
    a = grams.select(F.col("source").alias("source1"), "shingle")
    b = grams.select(F.col("source").alias("source2"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("source1") < F.col("source2"))
        .groupBy("source1", "source2")
        .agg(F.count("*").alias("shared_grams"))
        .orderBy(F.col("shared_grams").desc(), "source1", "source2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# The funnel report over the composed pipeline — what a data engineer
# actually reads after a materialization run: how many documents each
# stage consumed, and how the kept set splits. Derived from the SAME
# disposition logic (one GROUP BY over the pipeline's output), so the
# two queries cannot drift apart.

def _curation_funnel_sql() -> str:
    from .common import REGISTRY

    pipeline = REGISTRY["corpus_curation_pipeline"]["sql"]
    return f"""WITH pipe AS ({pipeline})
SELECT disposition, coalesce(split, '-') AS split, count(*)::BIGINT AS n_docs
FROM pipe
GROUP BY disposition, split
ORDER BY disposition, split"""


@register("corpus_curation_funnel", _curation_funnel_sql())
def q_corpus_curation_funnel(spark, sf_dir):
    pipe = q_corpus_curation_pipeline(spark, sf_dir)
    return (
        pipe.groupBy(
            "disposition", F.coalesce("split", F.lit("-")).alias("split")
        )
        .agg(F.count("*").alias("n_docs"))
        .orderBy("disposition", "split")
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM score (Jelinek-Mercer mixture) — the CCNet-style
# perplexity filter primitive (Wenzek et al. 2020 bucket web documents by
# LM perplexity; Brown et al. 2020 use an LM quality classifier the same
# way). Each document is scored by the mean log-probability of its bigram
# positions under the corpus's own counts:
#
#     P(cur | prev) = L * c(prev,cur)/c(prev,*)  +  (1-L) * c(cur)/total
#
# Self-scoring means every scored bigram occurs at least once, so the MLE
# mixture needs no smoothing floor. Scale posture: the bigram stream is
# map-only (position explode + two element_at); counts are two hash
# aggregates over it; scoring joins the stream back on the (prev, cur)
# key — equi-joins and broadcast scalars only, cost linear in corpus
# token count (the unigram twin is text_unigram_logprob).

_JM_LAMBDA = 0.7  # bigram weight in the Jelinek-Mercer mixture

@register(
    "text_bigram_logprob",
    f"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
big AS (
  SELECT doc_id, t[i] AS prev, t[i+1] AS cur
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
c2 AS (SELECT prev, cur, count(*)::BIGINT AS c2 FROM big GROUP BY prev, cur),
c1 AS (SELECT prev, sum(c2)::BIGINT AS c1 FROM c2 GROUP BY prev),
uni AS (
  SELECT tok, count(*)::BIGINT AS cu
  FROM (SELECT unnest(t) AS tok FROM toks)
  GROUP BY tok
),
tot AS (SELECT sum(cu)::BIGINT AS total FROM uni),
scored AS (
  SELECT b.doc_id, count(*)::BIGINT AS n_bigrams,
         sum(ln({_JM_LAMBDA} * (c2.c2 / CAST(c1.c1 AS DOUBLE))
                + {1.0 - _JM_LAMBDA} * (uni.cu / CAST(tot.total AS DOUBLE)))) AS lp
  FROM big b
  JOIN c2 ON b.prev = c2.prev AND b.cur = c2.cur
  JOIN c1 ON b.prev = c1.prev
  JOIN uni ON b.cur = uni.tok, tot
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams, round(lp / n_bigrams, 6) + 0 AS avg_logprob
FROM scored ORDER BY doc_id""",
)
def q_text_bigram_logprob(spark, sf_dir):
    lam = _JM_LAMBDA
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("_t"))
    big = (
        toks.filter(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("_t") - 1)).alias("i"),
            "_t",
        )
        .select(
            "doc_id",
            F.element_at("_t", F.col("i")).alias("prev"),
            F.element_at("_t", F.col("i") + 1).alias("cur"),
        )
    )
    c2 = big.groupBy("prev", "cur").agg(F.count("*").alias("c2"))
    # context counts derive from the ALREADY-AGGREGATED bigram counts —
    # one small rollup, never a second pass over the token stream
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    uni = (
        toks.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cu"))
    )
    tot = uni.agg(F.sum("cu").alias("total"))
    scored = (
        big.join(c2, ["prev", "cur"])
        .join(c1, "prev")
        .join(uni, big["cur"] == uni["tok"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(
                F.log(
                    lam * (F.col("c2") / F.col("c1").cast("double"))
                    + (1.0 - lam)
                    * (F.col("cu") / F.col("total").cast("double"))
                )
            ).alias("lp"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        (F.round(F.col("lp") / F.col("n_bigrams"), 6) + F.lit(0.0)).alias(
            "avg_logprob"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Corpus-mix diversity: Shannon entropy (and its exponential, the
# "effective number of sources") of the source distribution per language
# — the data-mixing health metric read next to corpus_mixture_weights:
# a language whose effective source count collapses toward 1 is
# single-source and over-exposed to that source's biases. One grouped
# aggregate + one tiny per-language reduce; nothing corpus-sized moves.

@register(
    "corpus_source_entropy",
    """WITH counts AS (
  SELECT lang, source, count(*)::BIGINT AS n
  FROM documents GROUP BY lang, source
),
tot AS (SELECT lang, sum(n)::BIGINT AS t FROM counts GROUP BY lang),
ent AS (
  SELECT c.lang,
         sum(-(c.n / CAST(tt.t AS DOUBLE)) * ln(c.n / CAST(tt.t AS DOUBLE))) AS h,
         count(*)::BIGINT AS n_sources
  FROM counts c JOIN tot tt ON c.lang = tt.lang
  GROUP BY c.lang
)
SELECT lang, n_sources,
       round(h, 6) + 0 AS entropy_nats,
       round(exp(h), 6) + 0 AS effective_sources
FROM ent ORDER BY lang""",
)
def q_corpus_source_entropy(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("lang", "source").agg(F.count("*").alias("n"))
    tot = counts.groupBy("lang").agg(F.sum("n").alias("t"))
    p = F.col("n") / F.col("t").cast("double")
    ent = (
        counts.join(tot, "lang")
        .groupBy("lang")
        .agg(
            F.sum(-p * F.log(p)).alias("h"),
            F.count("*").alias("n_sources"),
        )
    )
    return ent.select(
        "lang",
        "n_sources",
        (F.round("h", 6) + F.lit(0.0)).alias("entropy_nats"),
        (F.round(F.exp("h"), 6) + F.lit(0.0)).alias("effective_sources"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Character-entropy quality signal: Shannon entropy of the per-document
# character distribution (bits/char). Degenerate generations and
# binary-ish noise sit at the extremes (repeated filler -> low entropy;
# random bytes -> high); natural text clusters in a narrow band — the
# cheap complement to the Gopher filters. Map-only explode of characters
# + two grouped aggregates; integer-exact counts, floats only in the
# final per-doc log fold.

@register(
    "text_char_entropy",
    """WITH chars AS (
  SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
  FROM documents WHERE length(text) > 0
),
counts AS (
  SELECT doc_id, ch, count(*)::BIGINT AS c FROM chars
  WHERE ch <> '' GROUP BY doc_id, ch
),
tot AS (SELECT doc_id, sum(c)::BIGINT AS n FROM counts GROUP BY doc_id)
SELECT c.doc_id,
       t.n AS n_chars,
       round(sum(-(c.c / CAST(t.n AS DOUBLE))
                 * log2(c.c / CAST(t.n AS DOUBLE))), 6) + 0 AS entropy_bits
FROM counts c JOIN tot t ON c.doc_id = t.doc_id
GROUP BY c.doc_id, t.n
ORDER BY c.doc_id""",
)
def q_text_char_entropy(spark, sf_dir):
    docs = spread(load(spark, sf_dir, "documents").filter(F.length("text") > 0))
    chars = docs.select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    tot = counts.groupBy("doc_id").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n").cast("double")
    return (
        counts.join(tot, "doc_id")
        .groupBy("doc_id", F.col("n").alias("n_chars"))
        .agg((F.round(F.sum(-p * F.log2(p)), 6) + F.lit(0.0)).alias("entropy_bits"))
        .orderBy("doc_id")
    )


# Model-based domain/quality classification — the LLM-pipeline op behind
# mixture balancing and fasttext-style quality gates: a multinomial Naive
# Bayes classifier over word tokens, trained in-plan (class = `source`,
# Laplace smoothing) and applied to every document. NB training IS SQL:
# class priors and per-(class, token) counts are two grouped aggregates,
# scoring is one join + one sum — so unlike gradient-trained models the
# whole thing carries an exact DuckDB oracle. Float discipline: the
# per-(doc, class) score is a sum of logs (order-dependent in the last
# ulps), so the argmax ranks on the ROUNDED score with a class tie-break
# — the same determinism contract every ranked query here uses.
# Scale posture: doc_tokens x n_classes rows (classes are a small
# constant); class-level tables broadcast; the (class, token) likelihood
# join shuffles on its key and is linear in corpus tokens.

@register(
    "text_nb_source_classifier",
    """WITH toks AS (
  SELECT doc_id, source, unnest(list_filter(
           string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
  FROM documents
),
cls AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
n AS (SELECT count(*)::BIGINT AS n_total FROM documents),
vb AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM toks),
ctok AS (SELECT source, tok, count(*)::BIGINT AS c FROM toks GROUP BY source, tok),
csize AS (SELECT source, count(*)::BIGINT AS tok_total FROM toks GROUP BY source),
doc_toks AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, tok),
scores AS (
  SELECT d.doc_id, cs.source,
         ln(cl.n_docs::DOUBLE / n.n_total)
         + sum(d.tf * ln((coalesce(ct.c, 0) + 1.0) / (cs.tok_total + vb.v))) AS s
  FROM doc_toks d
  CROSS JOIN csize cs
  LEFT JOIN ctok ct ON ct.source = cs.source AND ct.tok = d.tok
  JOIN cls cl ON cl.source = cs.source, n, vb
  GROUP BY d.doc_id, cs.source, cl.n_docs, n.n_total, cs.tok_total, vb.v
),
ranked AS (
  SELECT doc_id, source, round(s, 6) + 0 AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY round(s, 6) DESC, source) AS rk
  FROM scores
)
SELECT r.doc_id, r.source AS predicted, r.score,
       (r.source = d.source) AS correct
FROM ranked r JOIN documents d USING (doc_id)
WHERE rk = 1 ORDER BY doc_id""",
)
def q_text_nb_source_classifier(spark, sf_dir):
    from pyspark.sql import Window

    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "source", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    cls = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    scalars = toks.agg(
        F.countDistinct("tok").alias("v")
    ).crossJoin(docs.agg(F.count("*").alias("n_total")))
    ctok = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    csize = toks.groupBy("source").agg(F.count("*").alias("tok_total"))
    doc_toks = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    scores = (
        doc_toks.crossJoin(F.broadcast(csize))
        .join(ctok, ["source", "tok"], "left")
        .join(F.broadcast(cls), "source")
        .crossJoin(F.broadcast(scalars))
        .groupBy("doc_id", "source", "n_docs", "n_total", "tok_total", "v")
        .agg(
            F.sum(
                F.col("tf")
                * F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                    / (F.col("tok_total") + F.col("v"))
                )
            ).alias("_lik")
        )
        .select(
            "doc_id",
            "source",
            (
                F.log(F.col("n_docs").cast("double") / F.col("n_total"))
                + F.col("_lik")
            ).alias("s"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("s"), 6).desc(), F.col("source").asc()
    )
    ranked = scores.withColumn(
        "score", F.round(F.col("s"), 6) + F.lit(0.0)
    ).withColumn("rk", F.row_number().over(w))
    return (
        ranked.filter(F.col("rk") == 1)
        .join(docs.select("doc_id", F.col("source").alias("_true")), "doc_id")
        .select(
            "doc_id",
            F.col("source").alias("predicted"),
            "score",
            (F.col("source") == F.col("_true")).alias("correct"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity split (Wenzek et al. 2020, "CCNet: Extracting
# High Quality Monolingual Datasets" §4.3): score each document under an
# add-1-smoothed unigram LM trained PER LANGUAGE on the corpus itself,
# then split every language into head / middle / tail terciles by
# perplexity (lower perplexity == higher avg log-prob == head). The
# language-conditioned LM is the load-bearing detail — absolute
# perplexities aren't comparable across languages, so each lang is ranked
# only against itself.
#
# Scale shape: the LM build is two partial+final aggregates keyed
# ((lang, tok), then lang); scoring is an equi-join back to the token
# stream + one per-doc aggregate. The tercile split here is an exact
# ntile window per language — the oracle-exact contract; a production
# 100 TB run swaps that one stage for approx_percentile cutoffs computed
# in the same pass and a map-side bucket compare (noted in SURVEY §4's
# sanctioned-swap list), keeping everything shuffle-light.

@register(
    "corpus_perplexity_buckets",
    """WITH toks AS (
  SELECT d.doc_id, d.lang,
         unnest(list_filter(string_split_regex(lower(d.text), '[^a-z0-9]+'),
                            x -> x <> '')) AS tok
  FROM documents d
),
vocab AS (SELECT lang, tok, count(*)::BIGINT AS c FROM toks GROUP BY lang, tok),
stats AS (SELECT lang, sum(c)::BIGINT AS total, count(*)::BIGINT AS v
          FROM vocab GROUP BY lang),
scored AS (
  SELECT t.doc_id, t.lang, count(*)::BIGINT AS n_tokens,
         round(sum(ln((v.c + 1.0) / (s.total + s.v))) / count(*), 6) + 0
           AS avg_logprob
  FROM toks t JOIN vocab v USING (lang, tok) JOIN stats s USING (lang)
  GROUP BY t.doc_id, t.lang
)
SELECT doc_id, lang, n_tokens, avg_logprob,
       CASE ntile(3) OVER (PARTITION BY lang ORDER BY avg_logprob DESC, doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM scored ORDER BY doc_id""",
)
def q_corpus_perplexity_buckets(spark, sf_dir):
    from pyspark.sql import Window

    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(TX.tokens(F.col("text"))).alias("tok")
    )
    vocab = toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    stats = vocab.groupBy("lang").agg(
        F.sum("c").alias("total"), F.count("*").alias("v")
    )
    scored = (
        toks.join(vocab, ["lang", "tok"])
        .join(F.broadcast(stats), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.round(
                    F.sum(F.log((F.col("c") + 1.0) / (F.col("total") + F.col("v"))))
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)
            ).alias("avg_logprob"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("avg_logprob").desc(), "doc_id")
    bucket = F.ntile(3).over(w)
    return scored.select(
        "doc_id", "lang", "n_tokens", "avg_logprob",
        F.when(bucket == 1, "head").when(bucket == 2, "middle")
         .otherwise("tail").alias("ppl_bucket"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Distributed BPE merge-pair training: 4 rounds of count-adjacent-pairs ->
# global argmax -> apply merge, over the corpus word-frequency table (the
# tokenizer-training step a data pipeline runs before token accounting;
# Sennrich et al. 2016). Pair frequency uses the greedy leftmost
# NON-overlapping convention (the count the merge application actually
# performs on a same-symbol run), which both engines compute with pure
# replace() arithmetic — no floats anywhere, so the lane is
# hash-deterministic by construction.
#
# Word state is a string with 2-space delimiters and 2-space pads
# ("  a  b  c  "): a pair pattern ' l  r ' consumes ONE space from each
# side, so adjacent occurrences never steal each other's boundary and a
# replace() application preserves the invariant exactly.
#
# 100 TB shape: the only corpus-sized job is the word-frequency groupBy;
# each merge round is a map + explode + 1-row argmax over the DISTINCT
# word table (vocabulary-sized, persisted once), and the per-round winner
# is a bounded 1-row control-plane collect — the same driver-folded
# iteration shape as embedding_kmeans.

def _bpe_iter_sql(i: int) -> str:
    prev = f"s{i-1}"
    return f"""
t{i} AS (
  SELECT s, wcnt, list_filter(string_split(s, '  '), x -> x <> '') AS t
  FROM {prev}
),
p{i} AS (
  SELECT DISTINCT s, wcnt, t[i] AS l, t[i+1] AS r
  FROM t{i}, unnest(range(1, len(t))) AS u(i)
),
c{i} AS MATERIALIZED (
  SELECT l, r,
         sum(wcnt * ((length(s) - length(replace(s, ' '||l||'  '||r||' ', '')))
                     // length(' '||l||'  '||r||' ')))::BIGINT AS cnt
  FROM p{i} GROUP BY 1, 2
),
w{i} AS (
  SELECT {i}::INT AS step, l AS left_sym, r AS right_sym,
         l||r AS merged, cnt AS pair_count
  FROM c{i} ORDER BY cnt DESC, l, r LIMIT 1
),
s{i} AS (
  -- coalesce: when the round found no pair (w{i} empty -> NULL scalar
  -- subqueries -> NULL replace), the state passes through UNCHANGED,
  -- mirroring the Spark trainer's loop break on an exhausted vocabulary
  SELECT w,
         coalesce(replace(s,
                          (SELECT ' '||left_sym||'  '||right_sym||' ' FROM w{i}),
                          (SELECT ' '||left_sym||right_sym||' ' FROM w{i})),
                  s) AS s, wcnt
  FROM {prev}
)"""


_BPE_SQL = (
    """WITH words AS (
  SELECT w, count(*)::BIGINT AS wcnt
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY 1
),
s0 AS (
  SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, wcnt FROM words
),"""
    + ",".join(_bpe_iter_sql(i) for i in range(1, 5))
    + """
SELECT * FROM w1 UNION ALL SELECT * FROM w2
UNION ALL SELECT * FROM w3 UNION ALL SELECT * FROM w4 ORDER BY step"""
)


def _bpe_words(spark, sf_dir):
    """The corpus word-frequency table in BPE state form: (w, s, wcnt)
    with s the 2-space-delimited, 2-space-padded symbol string."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("wcnt"))
        .select(
            "w",
            F.concat(F.lit("  "), F.regexp_replace("w", "(.)", "$1  ")).alias("s"),
            "wcnt",
        )
    )


def _bpe_pair_counts(cur):
    """Adjacent-pair frequencies over a (s, wcnt) state frame, greedy
    leftmost NON-overlapping convention via pure replace() arithmetic
    (the count a merge application actually performs) — shared by the
    sequential and batched trainers so the two can never diverge on what
    a 'count' means."""
    pat = F.concat_ws(
        "", F.lit(" "), F.col("l"), F.lit("  "), F.col("r"), F.lit(" ")
    )
    return (
        cur.withColumn("t", F.expr("filter(split(s, '  '), x -> x <> '')"))
        .select(
            "s",
            "wcnt",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(slice(t, 1, size(t) - 1),"
                        " (x, i) -> struct(x AS l, t[i + 1] AS r))"
                    )
                )
            ).alias("pr"),
        )
        .select("s", "wcnt", "pr.l", "pr.r")
        .withColumn(
            "c",
            (
                (F.length("s") - F.length(F.replace(F.col("s"), pat)))
                / F.length(pat)
            ).cast("long"),
        )
        .groupBy("l", "r")
        .agg(F.sum(F.col("wcnt") * F.col("c")).alias("cnt"))
    )


def _bpe_train(spark, sf_dir, rounds: int = 4, words=None):
    """Learn ``rounds`` BPE merges over the corpus word-frequency table.

    Returns (merge_rows, final_word_state, words_base): merge_rows is the
    [(step, l, r, merged, count)] list, final_word_state the (w, s, wcnt)
    frame with every learned merge applied, and words_base the PERSISTED
    base frame the state chain hangs off (caller owns its lifecycle —
    the merges lane unpersists it, the encode lane keeps it live because
    its returned plan still reads through the chain). ``words`` overrides
    the corpus-derived base frame (fixture injection for the
    batched-vs-sequential pinning tests)."""
    words = (_bpe_words(spark, sf_dir) if words is None else words).persist()
    cur = words
    rows = []
    for step in range(1, rounds + 1):
        win = (
            _bpe_pair_counts(cur)
            .orderBy(F.col("cnt").desc(), "l", "r")
            .limit(1)
            .collect()  # bounded: ONE row per merge round
        )
        if not win:  # vocabulary exhausted (every word one symbol)
            break
        win = win[0]
        rows.append((step, win["l"], win["r"], win["l"] + win["r"], int(win["cnt"])))
        cur = cur.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit(f" {win['l']}  {win['r']} "),
                F.lit(f" {win['l']}{win['r']} "),
            ),
        )
    return rows, cur, words


@register("text_bpe_merges", _BPE_SQL)
def q_text_bpe_merges(spark, sf_dir):
    rows, _, words = _bpe_train(spark, sf_dir)
    try:
        return spark.createDataFrame(
            rows,
            "step int, left_sym string, right_sym string, merged string, pair_count long",
        ).orderBy("step")
    finally:
        words.unpersist()


# ---------------------------------------------------------------------------
# BATCHED BPE training (VERDICT r13 item 3): the sequential trainer costs
# one distributed job wave PER MERGE — a production 32k-merge vocabulary
# would be 32k sequential waves, days of job-submission overhead alone.
# The batched trainer counts all pairs ONCE per sweep and applies a whole
# batch of merges in one distributed replace pass, so the wave count is
# ~vocab/batch.
#
# Batch selection is the LOCAL-MAXIMA rule (parallel greedy matching): a
# pair is selected iff it is the best pair — by (count DESC, l, r) — among
# ALL pairs touching either of its symbols. Selected pairs are therefore
# pairwise symbol-DISJOINT by construction (two pairs sharing a symbol
# cannot both be that symbol's best), which makes the batch EXACT in two
# senses: (a) applying the batch in any order yields the same state —
# replace() patterns over disjoint symbols cannot interact; (b) each
# selected pair's recorded count equals the count the sequential trainer
# would see at its application point within the sweep, because merging a
# symbol-disjoint pair elsewhere can neither destroy an occurrence of
# this pair nor create a new one (a merge only introduces adjacencies
# involving its OWN merged symbol).
#
# Symbol disjointness alone is NOT sufficient (r14 self-review): a
# selected pair's MERGED string can equal another selected pair's symbol
# through a different bracketing — ('a','ba') produces 'aba' while symbol
# 'aba' (from an earlier ('ab','a') merge) sits in the same snapshot's
# pair ('aba','c'); applying ('a','ba') first then CREATES new
# ' aba  c ' adjacencies and the second pair's recorded count undercounts
# what the replay performs. Both selectors therefore also exclude a pair
# whose symbol equals an earlier-selected pair's concatenation (and vice
# versa) — the blocked pair simply competes again next sweep, at its then-
# correct count. With that guard, patterns and replacement strings touch
# pairwise-distinct symbol strings, so the batch is truly order-free.
#
# Where batched and sequential DIVERGE — documented, inherent: after the
# sequential trainer applies a merge, brand-new pairs involving the merged
# symbol (e.g. ('th','e') after 't'+'h') compete immediately; the batched
# trainer only sees them at the NEXT sweep's snapshot. Batch-of-1 has no
# such pairs mid-sweep, so it reproduces the sequential merge sequence
# exactly (pinned in tests/test_bpe_batched.py).
#
# The rule is plain windows + aggregates + a rank-prefix NOT EXISTS, so
# the DuckDB oracle expresses the SAME algorithm: per-symbol best via
# row_number, selection via max(rn)=1, the concat guard over the
# rank-ordered maxima pool, application via list_reduce over the sweep's
# merge list. The pool is capped (8x batch) on BOTH sides so the guard's
# quantifier range is identical in the two engines.

_BPE_BATCH_CAP = 32
_BPE_BATCH_SWEEPS = 5
_BPE_BATCH_POOL = 8 * _BPE_BATCH_CAP


def _bpe_batch_sweep_sql(i: int, cap: int, pool: int = _BPE_BATCH_POOL) -> str:
    prev = f"s{i-1}"
    return f"""
t{i} AS (
  SELECT s, wcnt, list_filter(string_split(s, '  '), x -> x <> '') AS t
  FROM {prev}
),
p{i} AS (
  SELECT DISTINCT s, wcnt, t[i] AS l, t[i+1] AS r
  FROM t{i}, unnest(range(1, len(t))) AS u(i)
),
c{i} AS MATERIALIZED (
  SELECT l, r,
         sum(wcnt * ((length(s) - length(replace(s, ' '||l||'  '||r||' ', '')))
                     // length(' '||l||'  '||r||' ')))::BIGINT AS cnt
  FROM p{i} GROUP BY 1, 2
),
x{i} AS (
  SELECT sym, l, r, cnt,
         row_number() OVER (PARTITION BY sym ORDER BY cnt DESC, l, r) AS rn
  FROM (SELECT unnest(list_distinct([l, r])) AS sym, l, r, cnt FROM c{i})
),
mx{i} AS MATERIALIZED (
  SELECT l, r, cnt FROM (
    SELECT l, r, cnt FROM x{i} GROUP BY l, r, cnt HAVING max(rn) = 1
  ) QUALIFY row_number() OVER (ORDER BY cnt DESC, l, r) <= {pool}
),
rkx{i} AS (
  SELECT l, r, cnt,
         row_number() OVER (ORDER BY cnt DESC, l, r) AS rk
  FROM mx{i}
),
sel{i} AS MATERIALIZED (
  SELECT l, r, cnt FROM (
    SELECT p.l, p.r, p.cnt, p.rk
    FROM rkx{i} p
    WHERE NOT EXISTS (
      SELECT 1 FROM rkx{i} q
      WHERE q.rk < p.rk
        AND (q.l || q.r IN (p.l, p.r) OR p.l || p.r IN (q.l, q.r))
    )
  ) QUALIFY row_number() OVER (ORDER BY rk) <= {cap}
),
m{i} AS (
  SELECT list(' '||l||'  '||r||' ' || '|' || l || r
              ORDER BY cnt DESC, l, r) AS ml
  FROM sel{i}
),
s{i} AS MATERIALIZED (
  SELECT w,
         CASE WHEN (SELECT ml FROM m{i}) IS NULL THEN s
              ELSE list_reduce(
                     list_prepend(s, (SELECT ml FROM m{i})),
                     (acc, x) -> replace(acc, split_part(x, '|', 1),
                                         ' ' || split_part(x, '|', 2) || ' '))
         END AS s, wcnt
  FROM {prev}
)"""


_BPE_BATCH_SQL = (
    """WITH words AS (
  SELECT w, count(*)::BIGINT AS wcnt
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY 1
),
s0 AS (
  SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, wcnt FROM words
),"""
    + ",".join(
        _bpe_batch_sweep_sql(i, _BPE_BATCH_CAP)
        for i in range(1, _BPE_BATCH_SWEEPS + 1)
    )
    + "\n"
    + "\nUNION ALL ".join(
        f"SELECT {i}::INT AS sweep, l AS left_sym, r AS right_sym,"
        f" l||r AS merged, cnt AS pair_count FROM sel{i}"
        for i in range(1, _BPE_BATCH_SWEEPS + 1)
    )
    + "\nORDER BY sweep, pair_count DESC, left_sym, right_sym"
)


def _bpe_train_batched(
    spark,
    sf_dir,
    *,
    sweeps: int = _BPE_BATCH_SWEEPS,
    batch_cap: int = _BPE_BATCH_CAP,
    max_merges: int | None = None,
    words=None,
    select: str = "local_maxima",
):
    """Batched BPE: per sweep, ONE distributed pair count -> symbol-
    disjoint batch selection (bounded collect, <= batch_cap rows) -> one
    chained replace pass. localCheckpoint truncates the replace lineage
    each sweep so sweep N never recomputes sweeps 1..N-1's replaces and
    the expression tree stays batch-deep, not vocabulary-deep.

    Two selection strategies, both yielding pairwise symbol-disjoint
    batches (so every exactness property in the module comment holds for
    either):

      * ``local_maxima`` — a pair survives iff it beats every pair
        touching either of its symbols. Pure windows+aggregates, so the
        DuckDB oracle can express it verbatim (the registry lane's
        strategy). Batches run SMALL when counts concentrate on hub
        symbols: one dominant pair eliminates every neighbor it beats
        without selecting them.
      * ``greedy`` — maximal matching over the global (count DESC, l, r)
        candidate order: walk the top-(8x cap) collected candidates, keep
        each pair whose symbols are untouched by earlier keeps. Strictly
        larger batches (every local maximum is also kept), which is what
        the vocab/batch job-wave arithmetic needs at production depth;
        the selection is a driver fold over a bounded collect, not a
        distributed op, so it has no SQL twin — pinned against the
        sequential semantics in tests instead.

    Returns (rows, final_state, words_base) like _bpe_train; rows are
    (sweep, l, r, merged, count) in (count DESC, l, r) order per sweep."""
    from pyspark.sql import Window

    if select not in ("local_maxima", "greedy"):
        raise ValueError(f"unknown selection strategy: {select!r}")
    words = (_bpe_words(spark, sf_dir) if words is None else words).persist()
    cur = words
    rows: list[tuple] = []
    pool = 8 * batch_cap
    for sweep in range(1, sweeps + 1):
        pairs = _bpe_pair_counts(cur)
        if select == "local_maxima":
            w = Window.partitionBy("sym").orderBy(F.col("cnt").desc(), "l", "r")
            maxima = (
                pairs.select(
                    F.explode(F.array_distinct(F.array("l", "r"))).alias("sym"),
                    "l",
                    "r",
                    "cnt",
                )
                .withColumn("rn", F.row_number().over(w))
                .groupBy("l", "r", "cnt")
                .agg(F.max("rn").alias("mx"))
                .filter(F.col("mx") == 1)
                .orderBy(F.col("cnt").desc(), "l", "r")
                .limit(pool)
                .collect()  # bounded: the rank-ordered maxima pool
            )
            # the concat guard, EXACTLY the oracle's NOT EXISTS over the
            # rank-prefix of the (unfiltered) pool: drop p when any
            # higher-ranked pool member q concatenates to one of p's
            # symbols or p concatenates to one of q's — the
            # multi-bracketing collision in the module comment. A
            # guard-dropped q still blocks (non-recursive, same as SQL).
            sel = []
            for j, p_ in enumerate(maxima):
                if any(
                    q_["l"] + q_["r"] in (p_["l"], p_["r"])
                    or p_["l"] + p_["r"] in (q_["l"], q_["r"])
                    for q_ in maxima[:j]
                ):
                    continue
                sel.append(p_)
                if len(sel) >= batch_cap:
                    break
        else:
            cands = (
                pairs.orderBy(F.col("cnt").desc(), "l", "r")
                .limit(pool)
                .collect()  # bounded: the driver-greedy candidate pool
            )
            # used carries symbols AND their concatenations; a candidate
            # whose own concatenation is already a used symbol is blocked
            # too — together this makes the batch fully order-free
            used: set[str] = set()
            sel = []
            for r_ in cands:
                if (
                    r_["l"] in used
                    or r_["r"] in used
                    or r_["l"] + r_["r"] in used
                ):
                    continue
                used.update((r_["l"], r_["r"], r_["l"] + r_["r"]))
                sel.append(r_)
                if len(sel) >= batch_cap:
                    break
        if not sel:
            break  # vocabulary exhausted (every word one symbol)
        if max_merges is not None:
            sel = sel[: max_merges - len(rows)]
        scol = F.col("s")
        for r_ in sel:
            rows.append(
                (sweep, r_["l"], r_["r"], r_["l"] + r_["r"], int(r_["cnt"]))
            )
            # disjoint symbols -> replace order within the batch is
            # immaterial; rank order kept for determinism of the plan text
            scol = F.replace(
                scol,
                F.lit(f" {r_['l']}  {r_['r']} "),
                F.lit(f" {r_['l']}{r_['r']} "),
            )
        cur = cur.withColumn("s", scol).localCheckpoint(eager=True)
        if max_merges is not None and len(rows) >= max_merges:
            break
    return rows, cur, words


# ---------------------------------------------------------------------------
# Training-epoch reader lanes (plans/epoch.py): seeded deterministic shard
# + sample shuffle, and fixed-length token packing composed over the BPE
# vocabulary — the consumer-side operators of the WebDataset arc (VERDICT
# r13 item 4). The lanes run the REAL operators over the documents table
# with source as the shard axis (the tar-backed twin is exercised on real
# shards in tests/test_epoch.py); the ordering is a pure md5 function of
# (seed, shard, sample_key), which both engines compute bit-identically,
# so the EXACT epoch sequence — not just row membership — is oracle-pinned
# via the per-shard rank column.

_EPOCH_SEED = 1
_EPOCH_BUFFER = 4

_EPOCH_SQL = f"""WITH s AS (
  SELECT source, doc_id,
         md5('{_EPOCH_SEED}|' || source) AS shard_ord,
         md5('{_EPOCH_SEED}|' || source || '|' || doc_id) AS intra,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
           // {_EPOCH_BUFFER} AS blk
  FROM documents
)
SELECT source, doc_id, shard_ord,
       row_number() OVER (PARTITION BY source
                          ORDER BY blk, intra, doc_id)::BIGINT AS epoch_rank
FROM s
ORDER BY shard_ord, source, epoch_rank"""


@register("corpus_epoch_order", _EPOCH_SQL)
def q_corpus_epoch_order(spark, sf_dir):
    from ..plans.epoch import epoch_keys, epoch_rank_in_shard

    docs = load(spark, sf_dir, "documents").select(
        F.col("source").alias("shard"),
        F.col("doc_id").cast("string").alias("sample_key"),
        F.col("doc_id").alias("first_member_index"),
    )
    # keys only — the rank window shares the archive window's shard hash
    # partitioning; the one global sort is the final presentation orderBy
    ranked = epoch_rank_in_shard(
        epoch_keys(docs, seed=_EPOCH_SEED, buffer=_EPOCH_BUFFER)
    )
    return ranked.select(
        F.col("shard").alias("source"),
        F.col("sample_key").cast("long").alias("doc_id"),
        F.col("epoch_shard_ord").alias("shard_ord"),
        F.col("epoch_rank").cast("long").alias("epoch_rank"),
    ).orderBy("shard_ord", "source", "epoch_rank")


# Packing lane: BPE-encode (the learned 4-merge vocabulary) -> seeded
# epoch order -> concat-and-chunk into 512-token sequences, per source
# (the shard axis). Exact integer token accounting: sum(n_tokens) over
# packs equals the corpus token count; a document crossing a pack
# boundary splits and its fragments' tokens sum to its full count.

_PACK_SEQ_LEN = 512

_PACK_SQL = (
    """WITH words AS (
  SELECT w, count(*)::BIGINT AS wcnt
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY 1
),
s0 AS (
  SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, wcnt FROM words
),"""
    + ",".join(_bpe_iter_sql(i) for i in range(1, 5))
    + f""",
tok AS (
  SELECT w,
         len(list_filter(string_split(s, '  '), x -> x <> ''))::BIGINT AS n_tok
  FROM s4
),
dw AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            x -> x <> '')) AS w
  FROM documents
),
pd AS (
  SELECT doc_id, source, sum(n_tok)::BIGINT AS n_tokens
  FROM dw JOIN tok USING (w) GROUP BY 1, 2
),
ek AS (
  SELECT doc_id, source, n_tokens,
         md5('{_EPOCH_SEED}|' || source || '|' || doc_id) AS intra,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
           // {_EPOCH_BUFFER} AS blk
  FROM pd
),
sp AS (
  -- ::BIGINT: DuckDB widens a window sum over BIGINT to HUGEINT, which
  -- range() then refuses
  SELECT source, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY source ORDER BY blk, intra, doc_id
                              ROWS UNBOUNDED PRECEDING))::BIGINT AS e
  FROM ek WHERE n_tokens > 0
),
fr AS (
  SELECT source, doc_id, n_tokens, e - n_tokens AS st, e,
         ((e - 1) // {_PACK_SEQ_LEN}) - ((e - n_tokens) // {_PACK_SEQ_LEN})
           + 1 AS n_frags
  FROM sp
),
fx AS (
  SELECT source, n_frags, p.pack_id,
         least(e, (p.pack_id + 1) * {_PACK_SEQ_LEN})
           - greatest(st, p.pack_id * {_PACK_SEQ_LEN}) AS frag_tokens
  FROM fr, unnest(range(st // {_PACK_SEQ_LEN},
                        ((e - 1) // {_PACK_SEQ_LEN}) + 1)) AS p(pack_id)
)
SELECT source, pack_id::BIGINT AS pack_id, count(*)::BIGINT AS n_docs,
       sum(frag_tokens)::BIGINT AS n_tokens,
       sum(CASE WHEN n_frags > 1 THEN 1 ELSE 0 END)::BIGINT AS n_split_docs
FROM fx GROUP BY 1, 2 ORDER BY source, pack_id"""
)


@register("corpus_pack_sequences", _PACK_SQL)
def q_corpus_pack_sequences(spark, sf_dir):
    from ..plans.epoch import epoch_keys, pack_token_spans

    _, state, _words = _bpe_train(spark, sf_dir)
    # the returned plan reads through the persisted word-state chain —
    # keep the base cached (text_bpe_encode precedent)
    tok = state.select(
        "w",
        F.expr("size(filter(split(s, '  '), x -> x <> ''))")
        .cast("long")
        .alias("n_tok"),
    )
    docs = load(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", "source",
        F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w"),
    ).filter(F.col("w") != "")
    per_doc = (
        dw.join(F.broadcast(tok), "w")
        .groupBy("doc_id", "source")
        .agg(F.sum("n_tok").alias("n_tokens"))
    )
    # keys only (no global sort): the packing cumsum is itself a
    # shard-partitioned window, so it consumes the keys in place
    keyed = epoch_keys(
        per_doc.select(
            F.col("source").alias("shard"),
            F.col("doc_id").cast("string").alias("sample_key"),
            F.col("doc_id").alias("first_member_index"),
            "n_tokens",
        ),
        seed=_EPOCH_SEED,
        buffer=_EPOCH_BUFFER,
    )
    frags = pack_token_spans(
        keyed,
        seq_len=_PACK_SEQ_LEN,
        part_col="shard",
        order_cols=["epoch_block", "epoch_intra", "sample_key"],
        token_col="n_tokens",
    )
    return (
        frags.groupBy(F.col("shard").alias("source"), "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("frag_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("n_frags") > 1, 1).otherwise(0)).alias(
                "n_split_docs"
            ),
        )
        .orderBy("source", "pack_id")
    )


@register("text_bpe_merges_batched", _BPE_BATCH_SQL)
def q_text_bpe_merges_batched(spark, sf_dir):
    rows, _, words = _bpe_train_batched(spark, sf_dir)
    try:
        return spark.createDataFrame(
            rows,
            "sweep int, left_sym string, right_sym string,"
            " merged string, pair_count long",
        ).orderBy(
            "sweep", F.col("pair_count").desc(), "left_sym", "right_sym"
        )
    finally:
        words.unpersist()



# ---------------------------------------------------------------------------
# BPE application — the actual 100 TB hot path: tokenize every document
# with the learned merges and report per-doc token accounting (words,
# chars, BPE tokens, chars-per-token compression). The encode is a
# vocabulary-sized broadcast join (word -> token count under the final
# merge state), so the corpus-sized side is touched exactly once, map-only.

_BPE_ENCODE_SQL = (
    """WITH words AS (
  SELECT w, count(*)::BIGINT AS wcnt
  FROM (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                  x -> x <> '')) AS w
        FROM documents)
  GROUP BY 1
),
s0 AS (
  SELECT w, '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS s, wcnt FROM words
),"""
    + ",".join(_bpe_iter_sql(i) for i in range(1, 5))
    + """,
tok AS (
  SELECT w,
         len(list_filter(string_split(s, '  '), x -> x <> ''))::BIGINT AS n_tok
  FROM s4
),
dw AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                            x -> x <> '')) AS w
  FROM documents
)
SELECT doc_id, count(*)::BIGINT AS n_words,
       sum(length(w))::BIGINT AS n_chars,
       sum(n_tok)::BIGINT AS n_tokens,
       round(sum(length(w)) * 1000000 // sum(n_tok) / 1000000.0, 6) + 0
         AS chars_per_token
FROM dw JOIN tok USING (w)
GROUP BY doc_id ORDER BY doc_id"""
)


@register("text_bpe_encode", _BPE_ENCODE_SQL)
def q_text_bpe_encode(spark, sf_dir):
    _, state, _words = _bpe_train(spark, sf_dir)
    # the returned plan still reads through the persisted word-state
    # chain, so the base frame stays cached (customer_balance_deciles
    # precedent: consumers feed from the cache, never re-derive)
    tok = state.select(
        "w",
        F.expr("size(filter(split(s, '  '), x -> x <> ''))")
        .cast("long")
        .alias("n_tok"),
    )
    docs = load(spark, sf_dir, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("w")
    ).filter(F.col("w") != "")
    agg = dw.join(F.broadcast(tok), "w").groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum(F.length("w")).alias("n_chars"),
        F.sum("n_tok").alias("n_tokens"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_chars",
        "n_tokens",
        (
            F.expr("(n_chars * 1000000L) div n_tokens") / 1000000.0 + F.lit(0.0)
        ).alias("chars_per_token"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Per-domain frequency capping (C4/Gopher-style): keep at most K documents
# per source, best-first (longest, doc_id tiebreak), and report the
# mixture shift — each source's token share before vs after the cap. ONE
# shuffle (the per-source window) + one aggregate. At 100 TB the same
# plan holds: the window partitions by domain, so a skewed megadomain is
# one partition's sort — cap it first with a sampled per-domain K-th
# order statistic as a pre-filter if a single domain outgrows a task.

@register(
    "corpus_domain_cap",
    """WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents
),
tot AS (SELECT sum(n_chars) AS all_chars FROM documents),
kept AS (SELECT sum(n_chars) AS kept_chars FROM ranked WHERE rn <= 30)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN rn <= 30 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       round(sum(n_chars) * 1000000 // (SELECT all_chars FROM tot)
             / 1000000.0, 6) + 0 AS share_before,
       round(sum(CASE WHEN rn <= 30 THEN n_chars ELSE 0 END) * 1000000
             // (SELECT kept_chars FROM kept) / 1000000.0, 6) + 0 AS share_after
FROM ranked GROUP BY source ORDER BY source""",
)
def q_corpus_domain_cap(spark, sf_dir):
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    # plan-outliving persist: the returned agg reads the ranked frame the
    # driver fold below also materialized
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rn")
    ).persist()
    # two global scalars, folded on the driver (bounded control-plane
    # reads); integer micro-unit shares keep the division engine-exact
    tot = ranked.agg(
        F.sum("n_chars").alias("a"),
        F.sum(F.when(F.col("rn") <= 30, F.col("n_chars")).otherwise(0)).alias("k"),
    ).collect()[0]
    agg = ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("rn") <= 30, 1).otherwise(0)).alias("n_kept"),
        F.sum("n_chars").alias("chars_all"),
        F.sum(F.when(F.col("rn") <= 30, F.col("n_chars")).otherwise(0)).alias(
            "chars_kept"
        ),
    )
    # integral `div` on DECIMAL(38,0) (not float /+floor, not bare
    # BIGINT): exact at any magnitude AND overflow-proof — a 9 TB
    # source's char sum times 1e6 wraps a BIGINT but not a decimal;
    # DuckDB's // widens to HUGEINT the same way
    def share(col: str, denom: int) -> "F.Column":
        return (
            F.expr(
                f"(CAST({col} AS DECIMAL(38,0)) * 1000000)"
                f" div CAST({denom} AS DECIMAL(38,0))"
            ).cast("long")
            / 1000000.0
            + F.lit(0.0)
        )

    return agg.select(
        "source",
        "n_docs",
        "n_kept",
        share("chars_all", int(tot["a"])).alias("share_before"),
        share("chars_kept", int(tot["k"])).alias("share_after"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# DEEP-VOCABULARY pipeline lanes (VERDICT r14 item 1): the production
# split — training happens ONCE (tools/train_vocab.py: batched greedy
# trainer, 320 merges over the sf0.1 corpus at the SentencePiece doc
# grain) and ships as a frozen artifact (assets/vocab_deep.json, the
# vocab.bpe analogue); these lanes are the 100 TB HOT PATH that applies
# it. Encode is ONE map-only projection — a higher-order aggregate fold
# of the literal merge list per row, zero shuffles, zero joins, zero
# Python — so it scales embarrassingly (BENCH_SCALE_r15 pins the
# exponent). The oracle applies the IDENTICAL merge list via list_reduce
# (left-to-right non-overlapping replace in both engines), so the lanes
# are hash-exact at full 320-merge depth, where merge interactions
# actually occur. Training determinism + batch-vs-sequential exactness
# at depth are pinned in tests/test_bpe_deep.py.

def _deep_vocab():
    from ..functions import bpe

    return bpe.load_vocab()


def _deep_encode_sql_ctes() -> str:
    """Shared SQL prefix: documents -> SentencePiece unit -> frozen-vocab
    symbol state -> per-doc token counts (engine-exact twin of the Spark
    lanes' fold)."""
    from ..functions import bpe

    v = _deep_vocab()
    unit = bpe.sp_unit_sql("text")
    padded = bpe.PAD_SYMBOLS_SQL.format(unit="w")
    state = bpe.apply_merges_sql(padded, v["merges"])
    ntok = bpe.TOKEN_COUNT_SQL.format(state="s")
    return f"""u AS (
  SELECT doc_id, source, {unit} AS w FROM documents
),
st AS (
  SELECT doc_id, source, w, {state} AS s FROM u
),
pd AS (
  SELECT doc_id, source, length(w)::BIGINT AS n_chars, {ntok} AS n_tokens
  FROM st
)"""


def _deep_encode_df(spark, sf_dir):
    """Spark twin of ``_deep_encode_sql_ctes``'s ``pd``: per-doc unit
    length + frozen-vocab token count, one shuffle-free projection."""
    from ..functions import bpe

    v = _deep_vocab()
    # spread: the 320-merge fold is the per-row cost; on the single-split
    # scan it ran on ONE core (measured 5.1 -> 1.0 s) — session.spread
    docs = spread(load(spark, sf_dir, "documents"))
    unit = bpe.sp_unit_col("text")
    state = bpe.apply_merges_col(bpe.pad_symbols_col(unit), v["merges"])
    return docs.select(
        "doc_id",
        "source",
        F.length(unit).cast("long").alias("n_chars"),
        bpe.token_count_col(state).alias("n_tokens"),
    )


_DEEP_ENCODE_SQL = (
    "WITH "
    + _deep_encode_sql_ctes()
    + """
SELECT doc_id, n_chars, n_tokens,
       round(n_chars * 1000000 // n_tokens / 1000000.0, 6) + 0
         AS chars_per_token
FROM pd ORDER BY doc_id"""
)


@register("text_bpe_encode_deep", _DEEP_ENCODE_SQL)
def q_text_bpe_encode_deep(spark, sf_dir):
    enc = _deep_encode_df(spark, sf_dir)
    return enc.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        (
            F.expr("(n_chars * 1000000L) div n_tokens") / 1000000.0
            + F.lit(0.0)
        ).alias("chars_per_token"),
    ).orderBy("doc_id")


_DEEP_PACK_SEQ_LEN = 128

_DEEP_PACK_SQL = (
    "WITH "
    + _deep_encode_sql_ctes()
    + f""",
ek AS (
  SELECT doc_id, source, n_tokens,
         md5('{_EPOCH_SEED}|' || source || '|' || doc_id) AS intra,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
           // {_EPOCH_BUFFER} AS blk
  FROM pd
),
sp AS (
  SELECT source, doc_id, n_tokens,
         (sum(n_tokens) OVER (PARTITION BY source ORDER BY blk, intra, doc_id
                              ROWS UNBOUNDED PRECEDING))::BIGINT AS e
  FROM ek WHERE n_tokens > 0
),
fr AS (
  SELECT source, doc_id, n_tokens, e - n_tokens AS st, e,
         ((e - 1) // {_DEEP_PACK_SEQ_LEN}) - ((e - n_tokens) // {_DEEP_PACK_SEQ_LEN})
           + 1 AS n_frags
  FROM sp
),
fx AS (
  SELECT source, n_frags, p.pack_id,
         least(e, (p.pack_id + 1) * {_DEEP_PACK_SEQ_LEN})
           - greatest(st, p.pack_id * {_DEEP_PACK_SEQ_LEN}) AS frag_tokens
  FROM fr, unnest(range(st // {_DEEP_PACK_SEQ_LEN},
                        ((e - 1) // {_DEEP_PACK_SEQ_LEN}) + 1)) AS p(pack_id)
)
SELECT source, pack_id::BIGINT AS pack_id, count(*)::BIGINT AS n_docs,
       sum(frag_tokens)::BIGINT AS n_tokens,
       sum(CASE WHEN n_frags > 1 THEN 1 ELSE 0 END)::BIGINT AS n_split_docs
FROM fx GROUP BY 1, 2 ORDER BY source, pack_id"""
)


@register("corpus_pack_deep_vocab", _DEEP_PACK_SQL)
def q_corpus_pack_deep_vocab(spark, sf_dir):
    from ..plans.epoch import epoch_keys, pack_token_spans

    keyed = epoch_keys(
        _deep_encode_df(spark, sf_dir).select(
            F.col("source").alias("shard"),
            F.col("doc_id").cast("string").alias("sample_key"),
            F.col("doc_id").alias("first_member_index"),
            "n_tokens",
        ),
        seed=_EPOCH_SEED,
        buffer=_EPOCH_BUFFER,
    )
    frags = pack_token_spans(
        keyed,
        seq_len=_DEEP_PACK_SEQ_LEN,
        part_col="shard",
        order_cols=["epoch_block", "epoch_intra", "sample_key"],
        token_col="n_tokens",
    )
    return (
        frags.groupBy(F.col("shard").alias("source"), "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("frag_tokens").alias("n_tokens"),
            F.sum(F.when(F.col("n_frags") > 1, 1).otherwise(0)).alias(
                "n_split_docs"
            ),
        )
        .orderBy("source", "pack_id")
    )


# ---------------------------------------------------------------------------
# Sample-exact mid-epoch resume (VERDICT r14 item 3): a trainer that died
# at epoch position K restarts at K+1 with no replay and no skip. The
# Spark side resolves the cursor with a bounded TakeOrdered read (the
# K-th sample — a one-row control-plane lookup, NOT a global window) and
# then runs plans/epoch.epoch_after, whose shard-level cut is a pure
# driver-side hash comparison and whose in-shard cut rides the window
# partitioning epoch_keys already pays — zero additional exchanges. The
# oracle computes the same tail via a global row_number filter, so a
# hash match pins that the resume predicate reproduces the positional
# semantics EXACTLY (prefix + tail == full epoch; the list-equality twin
# lives in tests/test_epoch.py across shard/buffer-block boundaries).

_RESUME_AT = 100

_EPOCH_RESUME_SQL = f"""WITH s AS (
  SELECT source, doc_id,
         md5('{_EPOCH_SEED}|' || source) AS shard_ord,
         md5('{_EPOCH_SEED}|' || source || '|' || doc_id) AS intra,
         (row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1)
           // {_EPOCH_BUFFER} AS blk
  FROM documents
),
g AS (
  SELECT source, doc_id, shard_ord, intra, blk,
         row_number() OVER (ORDER BY shard_ord, source, blk, intra, doc_id)
           AS gpos
  FROM s
),
t AS (SELECT * FROM g WHERE gpos > {_RESUME_AT})
SELECT source, doc_id, shard_ord,
       row_number() OVER (PARTITION BY source
                          ORDER BY blk, intra, doc_id)::BIGINT AS epoch_rank
FROM t ORDER BY shard_ord, source, epoch_rank"""


@register("corpus_epoch_resume", _EPOCH_RESUME_SQL)
def q_corpus_epoch_resume(spark, sf_dir):
    from ..plans.epoch import epoch_after, epoch_keys, epoch_rank_in_shard

    docs = load(spark, sf_dir, "documents").select(
        F.col("source").alias("shard"),
        F.col("doc_id").cast("string").alias("sample_key"),
        F.col("doc_id").alias("first_member_index"),
    )
    # the cursor: the K-th sample of the epoch — TakeOrderedAndProject
    # (bounded K-row fetch), the lookup a trainer's checkpoint would
    # hold; sample_key ties sort as strings here, matching the frame's
    # key type on both sides of the fence
    cur = (
        epoch_keys(docs, seed=_EPOCH_SEED, buffer=_EPOCH_BUFFER)
        .orderBy(
            "epoch_shard_ord", "shard", "epoch_block", "epoch_intra",
            "sample_key",
        )
        .select("shard", "sample_key")
        .limit(_RESUME_AT)
        .collect()[-1]
    )
    tail = epoch_after(
        docs,
        seed=_EPOCH_SEED,
        buffer=_EPOCH_BUFFER,
        cursor_shard=cur["shard"],
        cursor_key=cur["sample_key"],
        validate=False,  # the cursor was just read from the same frame
    )
    return epoch_rank_in_shard(tail).select(
        F.col("shard").alias("source"),
        F.col("sample_key").cast("long").alias("doc_id"),
        F.col("epoch_shard_ord").alias("shard_ord"),
        F.col("epoch_rank").cast("long").alias("epoch_rank"),
    ).orderBy("shard_ord", "source", "epoch_rank")


# ---------------------------------------------------------------------------
# Exact duplicated-span REMOVAL (the transform behind text_dedup_spans'
# measurement — Lee et al. 2022 apply it corpus-wide before training):
# every occurrence of an 8-token span that is not the CORPUS-WIDE FIRST
# occurrence (first = smallest (doc_id, position), within-doc repeats
# included) has its positions removed; the cleaned document is the
# surviving tokens in order. First-wins beats drop-both: exactly one copy
# of every duplicated span survives training.
#
# Scale posture (100 TB): occurrence construction is map-only (the same
# codegen shape as text_dedup_spans); the winner rule is min(okey) where
# okey = doc_id * 1e9 + position — a pure integer, so the decision is ONE
# partitioned window over the gram hash riding the stream's single
# exchange (no second shuffle, no collected state); removed starts come
# back to their documents via one doc_id aggregate, and the rebuild is a
# per-document higher-order filter (bounded by doc length). No all-pairs
# step; the only corpus-sized shuffles are the gram exchange and the
# per-doc regroup.

_REMOVAL_K = 8
_OKEY_BASE = 1_000_000_000  # > any in-doc position, so min() orders (doc, pos)

@register(
    "text_dedup_span_removal",
    f"""WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
occ AS (
  SELECT doc_id, i,
         md5(array_to_string(t[i:i+{_REMOVAL_K - 1}], ' ')) AS g,
         doc_id * {_OKEY_BASE} + i AS okey
  FROM toks, unnest(range(1, len(t) - {_REMOVAL_K - 2})) AS r(i)
  WHERE len(t) >= {_REMOVAL_K}
),
win AS (SELECT g, min(okey) AS wkey FROM occ GROUP BY g),
removed AS (
  SELECT occ.doc_id, occ.i FROM occ JOIN win USING (g)
  WHERE occ.okey <> win.wkey
),
rpos AS (
  SELECT DISTINCT doc_id, pos
  FROM removed, unnest(range(removed.i, removed.i + {_REMOVAL_K})) AS s(pos)
),
pos AS (
  SELECT toks.doc_id, u.p AS pos, toks.t[u.p] AS tok
  FROM toks, unnest(range(1, len(toks.t) + 1)) AS u(p)
),
kept AS (
  SELECT pos.doc_id, pos.pos, pos.tok
  FROM pos ANTI JOIN rpos USING (doc_id, pos)
),
agg AS (
  SELECT doc_id,
         count(*)::BIGINT AS n_kept,
         md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       len(toks.t)::BIGINT AS n_tokens,
       (len(toks.t) - coalesce(agg.n_kept, 0))::BIGINT AS n_removed,
       coalesce(agg.cleaned_md5, md5('')) AS cleaned_md5
FROM toks LEFT JOIN agg USING (doc_id)
ORDER BY doc_id""",
)
def q_text_dedup_span_removal(spark, sf_dir):
    k = _REMOVAL_K
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", TX.tokens(F.col("text")).alias("_toks"))
    occ = (
        toks.filter(F.size("_toks") >= k)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("_toks") - (k - 1))).alias(
                "i"
            ),
            "_toks",
        )
        .select(
            "doc_id",
            "i",
            F.md5(F.concat_ws(" ", F.slice("_toks", F.col("i"), k))).alias("g"),
            (
                F.col("doc_id") * F.lit(_OKEY_BASE) + F.col("i")
            ).cast("long").alias("okey"),
        )
    )
    from pyspark.sql import Window

    # winner per gram as a window over the SAME hash partitioning the
    # stream already crosses the wire with — one exchange total for the
    # removal decision (the groupBy+join-back form would shuffle the
    # occurrence stream twice)
    removed = (
        occ.repartition("g")
        .withColumn("_wkey", F.min("okey").over(Window.partitionBy("g")))
        .filter(F.col("okey") != F.col("_wkey"))
        .select("doc_id", "i")
    )
    rem = removed.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("i")).alias("_starts")
    )
    # merge the sorted removed starts into DISJOINT [s, e) intervals
    # first (the text_dedup_spans interval fold): the per-position
    # membership test below then scans #intervals, not #starts — on
    # boilerplate-dense documents (where starts ~ doc length) this takes
    # the rebuild from O(n^2) to ~O(n) per document
    ivs_t = "array<struct<s:int,e:int>>"
    _iv = lambda s, e: F.array(F.struct(s.alias("s"), e.alias("e")))  # noqa: E731
    intervals = F.aggregate(
        F.coalesce(F.col("_starts"), F.expr("array()").cast("array<int>")),
        F.struct(
            F.expr("array()").cast(ivs_t).alias("ivs"),
            F.lit(-1).alias("cs"),
            F.lit(-1).alias("ce"),
        ),
        lambda acc, s: F.when(
            acc["ce"] < 0,
            F.struct(
                acc["ivs"].alias("ivs"), s.alias("cs"), (s + F.lit(k)).alias("ce")
            ),
        )
        .when(
            s <= acc["ce"],
            F.struct(
                acc["ivs"].alias("ivs"),
                acc["cs"].alias("cs"),
                F.greatest(acc["ce"], s + F.lit(k)).alias("ce"),
            ),
        )
        .otherwise(
            F.struct(
                F.concat(acc["ivs"], _iv(acc["cs"], acc["ce"])).alias("ivs"),
                s.alias("cs"),
                (s + F.lit(k)).alias("ce"),
            )
        ),
        lambda acc: F.when(acc["ce"] < 0, acc["ivs"]).otherwise(
            F.concat(acc["ivs"], _iv(acc["cs"], acc["ce"]))
        ),
    )
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda t, i: F.struct((i + F.lit(1)).alias("p"), t.alias("t")),
        ),
        lambda s: ~F.exists(
            F.col("_ivs"),
            lambda iv: (s["p"] >= iv["s"]) & (s["p"] < iv["e"]),
        ),
    )
    return (
        toks.join(rem, "doc_id", "left")
        .withColumn("_ivs", intervals)
        .select(
            "doc_id",
            F.size("_toks").cast("long").alias("n_tokens"),
            kept.alias("_kept"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.size("_kept")).cast("long").alias(
                "n_removed"
            ),
            F.md5(
                F.concat_ws(" ", F.transform(F.col("_kept"), lambda s: s["t"]))
            ).alias("cleaned_md5"),
        )
        .orderBy("doc_id")
    )
