"""VERDICT r14 item 8: oracle-pair the last tests-only relational ops.

These lanes plant deterministic inputs FROM the documents table, run the
REAL operator/parse chain on the Spark side, and let the oracle compute
the expected output INDEPENDENTLY (closed-form from doc_id where
possible) — a stronger gate than a parallel SQL re-implementation,
because the two sides share no code at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..session import load
from .common import register


@register(
    "title_extraction_chains",
    """SELECT doc_id,
       CASE
         WHEN doc_id % 2 = 0 AND doc_id % 6 = 0 THEN 'Front ' || doc_id
         WHEN doc_id % 2 = 0 AND doc_id % 6 = 2 THEN 'Head ' || doc_id
         WHEN doc_id % 2 = 0 THEN 'doc ' || doc_id
         WHEN doc_id % 4 = 1 THEN 'Line One ' || doc_id
         ELSE 'doc ' || doc_id
       END AS fileTitle
FROM documents ORDER BY doc_id""",
)
def q_title_extraction_chains(spark, sf_dir):
    """T7 title chains (reference src/parser/title-extractor.ts:34-97)
    against closed-form ground truth: frontmatter beats H1 beats filename
    for .md; the first-line-then-blank rule vs filename for .txt. The
    Spark side runs the REAL parser (sources/parsers.parse_files) over
    constructed bytes; the oracle never parses anything."""
    from ..sources.parsers import parse_files

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    body = F.concat(F.lit("body "), F.substring("text", 1, 40))
    md = (
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit('---\ntitle: "Front '), did,
                F.lit('"\n---\n# Ignored\n\n'), body,
            ),
        )
        .when(
            F.col("doc_id") % 6 == 2,
            F.concat(F.lit("# Head "), did, F.lit("\n\n"), body),
        )
        .otherwise(body)
    )
    txt = F.when(
        F.col("doc_id") % 4 == 1,
        F.concat(F.lit("Line One "), did, F.lit("\n\n"), body),
    ).otherwise(F.concat(F.lit("no blank second line\n"), body))
    path = F.concat(
        F.lit("/t/doc-"), did,
        F.when(F.col("doc_id") % 2 == 0, F.lit(".md")).otherwise(F.lit(".txt")),
    )
    files = docs.select(
        "doc_id",
        path.alias("path"),
        F.encode(
            F.when(F.col("doc_id") % 2 == 0, md).otherwise(txt), "utf-8"
        ).alias("content"),
    )
    return parse_files(files).select(
        "doc_id", F.col("title").alias("fileTitle")
    ).orderBy("doc_id")


@register(
    "sentence_split_stats",
    """SELECT doc_id,
       (doc_id % 5 + doc_id % 3 + 5)::BIGINT AS n_sentences
FROM documents ORDER BY doc_id""",
)
def q_sentence_split_stats(spark, sf_dir):
    """T1 sentence pre-split against closed-form ground truth: a planted
    document with k = doc_id%5+2 first-paragraph sentences, one heading,
    m = doc_id%3+1 second-paragraph sentences, and one fenced code block
    whose internal period must NOT split (the placeholder-stash rule,
    reference src/chunker/sentence-splitter.ts) — expected count is
    k + 1 + m + 1, pure doc_id arithmetic. Runs the REAL splitter
    (chunking/splitter.split_sentences_udf)."""
    from ..chunking.splitter import split_sentences_udf

    docs = load(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 5 + 2).cast("int")
    m = (F.col("doc_id") % 3 + 1).cast("int")

    def para(n, word):
        return F.array_join(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda j: F.concat(
                    F.lit(word + " "), j.cast("string"), F.lit(" ends here.")
                ),
            ),
            " ",
        )

    text = F.concat(
        para(k, "Alpha"),
        F.lit("\n\n# Hdr "), did, F.lit("\n\n"),
        para(m, "Beta"),
        F.lit("\n\n```\ncode. block\n```"),
    )
    planted = docs.select("doc_id", text.alias("text"))
    return planted.select(
        "doc_id",
        F.size(split_sentences_udf(F.col("text"))).cast("long").alias(
            "n_sentences"
        ),
    ).orderBy("doc_id")


# J5: caption-page join (reference src/ingest/visual.ts:151-159) — the
# caption rows of a document become dedicated chunks indexed AFTER its
# last text chunk. Planted: each source is a "document" whose text
# chunks are its docs; every 7th doc contributes a caption for its page,
# exercising all three post-processing branches (control-char strip +
# trim, >1000-char cap with ellipsis, all-whitespace -> dropped).

@register(
    "caption_page_join",
    r"""WITH tc AS (
  SELECT source AS doc_key,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1
           AS chunk_index
  FROM documents
),
base AS (SELECT doc_key, max(chunk_index) + 1 AS b FROM tc GROUP BY doc_key),
rawcap AS (
  SELECT source AS doc_key, doc_id AS page_num,
         CASE WHEN doc_id % 21 = 0 THEN '   '
              WHEN doc_id % 14 = 0 THEN
                ' ' || substr(text, 1, 30) || repeat('x', 1200) || ' '
              ELSE '  ' || chr(7) || substr(text, 1, 40) || '  ' END AS cap
  FROM documents WHERE doc_id % 7 = 0
),
proc AS (
  SELECT doc_key, page_num,
         regexp_replace(
           regexp_replace(cap, '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g'),
           '^\s+|\s+$', '', 'g') AS s
  FROM rawcap
),
kept AS (
  SELECT doc_key, page_num,
         CASE WHEN length(s) > 1000
              THEN substr(s, 1, 1000) || chr(8230) ELSE s END AS s,
         row_number() OVER (PARTITION BY doc_key ORDER BY page_num) - 1
           AS rk
  FROM proc WHERE length(s) > 0
)
SELECT k.doc_key, (coalesce(b.b, 0) + k.rk)::BIGINT AS chunk_index,
       '[Visual content on page ' || k.page_num || ': ' || k.s || ']' AS text
FROM kept k LEFT JOIN base b USING (doc_key)
ORDER BY doc_key, chunk_index""",
)
def q_caption_page_join(spark, sf_dir):
    from pyspark.sql import Window

    from ..operators.multimodal import caption_chunks

    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    text_chunks = docs.select(
        F.col("source").alias("doc_key"),
        (F.row_number().over(w) - 1).alias("chunk_index"),
    )
    captions = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.col("source").alias("doc_key"),
        F.col("doc_id").alias("page_num"),
        F.when(F.col("doc_id") % 21 == 0, F.lit("   "))
        .when(
            F.col("doc_id") % 14 == 0,
            F.concat(
                F.lit(" "), F.substring("text", 1, 30),
                F.expr("repeat('x', 1200)"), F.lit(" "),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("  "), F.expr("chr(7)"), F.substring("text", 1, 40),
                F.lit("  "),
            )
        )
        .alias("caption"),
    )
    return (
        caption_chunks(text_chunks, captions)
        .withColumn("chunk_index", F.col("chunk_index").cast("long"))
        .orderBy("doc_key", "chunk_index")
    )


# S3: full-file read with vectors (reference get_file,
# src/vectordb/index.ts:116-131) — every chunk of ONE document, ordered
# by chunkIndex, vector payload included. The file axis here is the
# source ("one file per source", 250+ chunks at sf0.1) so the read is a
# real multi-chunk frame; the vector rides as exact integer micro-unit
# facts (dim + sum of floor(x * 1e6)) because both engines promote the
# stored float32 to the same double before the floor — bit-exact, no
# float round() in the contract.

@register(
    "file_full_read",
    """SELECT '/corpus/' || d.source || '.md' AS filePath,
       d.doc_id AS chunkIndex, d.text, d.lang, d.n_chars,
       len(e.embedding)::BIGINT AS vec_dim,
       list_aggregate(
         list_transform(e.embedding, x -> floor(x::DOUBLE * 1000000)::BIGINT),
         'sum')::BIGINT AS vec_sum_micro
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
WHERE d.source = 'src3'
ORDER BY chunkIndex""",
)
def q_file_full_read(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .filter(F.col("source") == "src3")
        .select(
            F.concat(
                F.lit("/corpus/"), F.col("source"), F.lit(".md")
            ).alias("filePath"),
            F.col("doc_id").alias("chunkIndex"),
            "text",
            "lang",
            "n_chars",
            F.size("embedding").cast("long").alias("vec_dim"),
            F.expr(
                "aggregate(embedding, 0L, (acc, x) ->"
                " acc + cast(floor(cast(x AS double) * 1000000) AS long))"
            ).alias("vec_sum_micro"),
        )
        .orderBy("chunkIndex")
    )
