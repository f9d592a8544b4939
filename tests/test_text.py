from pyspark.sql import functions as F

from mcp_local_rag_spark.functions import paths, text


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


def test_garbage_chunk_filter():
    """The reference's isGarbageChunk cases, run against the one
    implementation the ingest path applies (chunking/maxmin)."""
    from mcp_local_rag_spark.chunking.maxmin import _is_garbage

    texts = [
        "",
        "-----",
        "aaaaaaaaaaab",                 # alnum -> keep (reference early-return)
        "a normal sentence with words",
        "。。。。。。。。。。。、。",     # no ASCII alnum, >80% one char -> garbage
        ".|.|.|====",                   # widened decoration class -> garbage
    ]
    assert [_is_garbage(t) for t in texts] == [True, True, False, False, True, True]


def test_char_ngrams_short_string(spark):
    assert _one(spark, text.char_ngrams(F.lit("ab"), 3)) == []
    assert _one(spark, text.char_ngrams(F.lit("abc"), 2)) == ["ab", "bc"]


def test_word_shingles(spark):
    assert _one(spark, text.word_shingles(F.lit("a b c d"), 3)) == ["a b c", "b c d"]
    assert _one(spark, text.word_shingles(F.lit("a b"), 3)) == []


def test_predict_lang(spark):
    assert _one(spark, text.predict_lang(F.lit("the cat and the dog is here"))) == "en"
    assert _one(spark, text.predict_lang(F.lit("der hund und die katze"))) == "de"
    assert _one(spark, text.predict_lang(F.lit("zzz qqq"))) == "und"


def test_token_counts(spark):
    assert _one(spark, text.whitespace_token_count(F.lit("a b  c"))) == 3
    # BPE-ish: 'abc' '123' ',' '!' -> 4
    assert _one(spark, text.bpe_token_count(F.lit("abc123,!"))) == 4


def test_fingerprint_normalization(spark):
    a = _one(spark, text.fingerprint(F.lit("Hello,   World!")))
    b = _one(spark, text.fingerprint(F.lit("hello world")))
    assert a == b


def test_scope_predicate_boundary(spark):
    df = spark.createDataFrame([("/a/b",), ("/a/b/c",), ("/a/bc",)], "p string")
    kept = [
        r.p
        for r in df.filter(paths.scope_predicate("p", ["/a/b"])).collect()
    ]
    assert kept == ["/a/b", "/a/b/c"]


def test_base64url_roundtrip(spark):
    src = "https://example.com/page?q=1"
    enc = _one(spark, paths.base64url_encode(F.lit(src)))
    assert "=" not in enc and "+" not in enc and "/" not in enc
    assert _one(spark, paths.base64url_decode(F.lit(enc))) == src


def test_pii_redaction_and_counts(spark):
    df = spark.createDataFrame(
        [
            ("mail me at a.b+c@ex-ample.co.uk or bob@x.io",),
            ("server 192.168.0.1 then visit https://a.b/c?d=1 now",),
            ("call +49-555-0134 today",),
            ("clean text with no pii at all",),
        ],
        "t string",
    )
    c = text.pii_counts(F.col("t"))
    rows = df.select(
        c["email"].alias("e"), c["ipv4"].alias("i"), c["url"].alias("u"),
        c["phone"].alias("p"), text.redact_pii(F.col("t")).alias("r"),
    ).collect()
    assert [r.e for r in rows] == [2, 0, 0, 0]
    assert [r.i for r in rows] == [0, 1, 0, 0]
    assert [r.u for r in rows] == [0, 1, 0, 0]
    assert [r.p for r in rows] == [0, 0, 1, 0]
    assert rows[0].r == "mail me at <EMAIL> or <EMAIL>"
    assert rows[1].r == "server <IP> then visit <URL> now"
    assert rows[2].r == "call <PHONE> today"
    assert rows[3].r == "clean text with no pii at all"


def test_pii_url_redacted_before_inner_patterns(spark):
    # an IP inside a URL is swallowed by the URL placeholder, not
    # double-redacted by the ipv4 pass
    df = spark.createDataFrame([("go to http://10.0.0.1/x then stop",)], "t string")
    r = df.select(text.redact_pii(F.col("t")).alias("r")).first().r
    assert r == "go to <URL> then stop"


def test_scope_predicate_root_matches_every_absolute_path(spark):
    """A '/' scope means 'everything': the naive p + '/' startswith would
    demand a double slash and shield nothing from sync prune."""
    from mcp_local_rag_spark.functions import paths

    df = spark.createDataFrame(
        [("/",), ("/a",), ("/a/b.md",), ("relative.md",)], "p string"
    )
    got = {
        r.p
        for r in df.filter(paths.scope_predicate("p", ["/"])).collect()
    }
    assert got == {"/", "/a", "/a/b.md"}


def test_query_terms_agree_with_spark_tokens_on_adversarial_text(spark):
    """The Python query tokenizer (functions/text.query_terms, shared by
    the engine and the hybrid sidecar) and the JVM corpus tokenizer must
    agree byte-for-byte on ASCII words, punctuation, digits and non-Latin
    scripts, including unicode case-folding edges — disagreement means a
    query term that can never match its own document's posting."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.functions.text import query_terms
    from mcp_local_rag_spark.functions import text as TX

    cases = [
        "Spark, streaming!",
        "don't foo-bar_baz",
        "ALL CAPS 123 mixed99cases",
        "İstanbul STRASSE Straße",   # dotted capital I, sharp s folding
        "naïve café résumé",          # accented letters are separators here
        "ＦＵＬＬＷＩＤＴＨ １２３",  # fullwidth forms
        "emoji 🙂 splits 7things",
        "",
        "    ",
        "...!!!",
        "a.b,c;d:e!f?g(h)i[j]k{l}m/n\\o|p-q_r+s=t*u&v^w%x$y#z@",
        "0 42 007 3.14 1e9 v2 2024-10-19",
        "Ελληνικά ΣΟΦΙΑ σοφός",  # non-Latin scripts: every letter separates
        "Русский ТЕКСТ ёж",
        "中文文本 日本語テキスト 한국어",
        "العربية ٣٤٥ עברית",  # non-ASCII digits separate too
        "हिन्दी १२३ ไทย",
        "KÅ kelvin İi ı ǅ ﬁ x²",  # KELVIN SIGN lowercases to ASCII 'k'
    ]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    jvm = {
        r.t: list(r.toks)
        for r in df.select("t", TX.tokens(F.col("t")).alias("toks")).collect()
    }
    for c in cases:
        assert query_terms(c) == jvm[c], repr(c)
