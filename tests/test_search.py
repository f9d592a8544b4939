"""Search-pipeline unit tests with hand-computed expectations, mirroring the
reference's search-filters test style (src/vectordb/__tests__/search-filters.test.ts)."""

from mcp_local_rag_spark.operators import search


def _chunks(spark, rows):
    return spark.createDataFrame(
        rows, "filePath string, chunkIndex int, vector array<float>"
    )


def test_vector_topk_overfetch_and_order(spark):
    # distances to [1,0]: a=0, b=1, c=0.2, d=2
    rows = [
        ("/a", 0, [1.0, 0.0]),
        ("/a", 1, [0.0, 1.0]),
        ("/b", 0, [0.8, 0.6]),
        ("/b", 1, [-1.0, 0.0]),
    ]
    out = search.vector_topk(_chunks(spark, rows), [1.0, 0.0], k=1).collect()
    assert len(out) == 2  # k * overfetch
    assert [(r.filePath, r.chunkIndex) for r in out] == [("/a", 0), ("/b", 0)]
    assert out[0].score == 0.0 and abs(out[1].score - 0.2) < 1e-9


def test_vector_topk_scope_and_max_distance(spark):
    rows = [
        ("/a/x", 0, [1.0, 0.0]),
        ("/ab/x", 0, [1.0, 0.0]),  # scope '/a' must NOT match '/ab'
        ("/a/y", 0, [-1.0, 0.0]),  # distance 2, cut by max_distance
    ]
    out = search.vector_topk(
        _chunks(spark, rows), [1.0, 0.0], k=5, scope=["/a"], max_distance=1.0
    ).collect()
    assert [(r.filePath) for r in out] == ["/a/x"]


def test_grouping_filter_boundary_math(spark):
    # scores: 0.1, 0.12, 0.14, 0.5 -> gaps 0.02, 0.02, 0.36
    # mean=0.1333.., std_pop=0.16027.., boundary 0.36 > 0.1333+1.5*0.16027=0.3737? NO
    # -> no boundary, all kept for 'similar'
    hits = spark.createDataFrame(
        [("/a", 0, 0.10), ("/a", 1, 0.12), ("/a", 2, 0.14), ("/a", 3, 0.50)],
        "filePath string, chunkIndex int, score double",
    )
    kept = search.grouping_filter(hits, "similar")
    assert kept.count() == 4

    # scores: .10 .11 .12 .13 .14 .15 .80 -> gaps .01 x5, .65
    # mean=.11667, std_pop=.23851; boundary .65 > .11667+1.5*.23851=.47443 -> cut
    # 'similar' keeps the 6 rows before the boundary gap
    hits2 = spark.createDataFrame(
        [("/a", i, 0.10 + 0.01 * i) for i in range(6)] + [("/a", 6, 0.80)],
        "filePath string, chunkIndex int, score double",
    )
    kept2 = search.grouping_filter(hits2, "similar").collect()
    assert [r.chunkIndex for r in kept2] == [0, 1, 2, 3, 4, 5]
    # 'related' cuts at the 2nd boundary -> everything survives one boundary
    assert search.grouping_filter(hits2, "related").count() == 7


def test_keyword_boost_formula(spark):
    hits = spark.createDataFrame(
        [("/a", 0, 0.4), ("/a", 1, 0.4)], "filePath string, chunkIndex int, score double"
    )
    kw = spark.createDataFrame(
        [("/a", 0, 5.0), ("/x", 9, 10.0)],
        "filePath string, chunkIndex int, _score double",
    )
    out = {
        (r.filePath, r.chunkIndex): r.score
        for r in search.keyword_boost(hits, kw, weight=0.6).collect()
    }
    # kw_norm = 5/10 = 0.5 -> 0.4 / (1 + 0.5*0.6) = 0.307692; unmatched keeps 0.4
    assert abs(out[("/a", 0)] - 0.307692) < 1e-6
    assert out[("/a", 1)] == 0.4


def test_file_topn_filter(spark):
    hits = spark.createDataFrame(
        [("/a", 0, 0.1), ("/a", 1, 0.9), ("/b", 0, 0.2), ("/c", 0, 0.05)],
        "filePath string, chunkIndex int, score double",
    )
    kept = search.file_topn_filter(hits, 2)
    files = {r.filePath for r in kept.collect()}
    assert files == {"/c", "/a"}  # best scores 0.05 (/c), 0.1 (/a), 0.2 (/b)
    assert kept.count() == 3  # both /a chunks survive


def test_hybrid_search_end_to_end(spark):
    rows = [
        ("/a", 0, [1.0, 0.0], "spark join fast"),
        ("/a", 1, [0.9, 0.1], "other words here"),
        ("/b", 0, [0.0, 1.0], "spark spark spark"),
    ]
    chunks = spark.createDataFrame(
        rows, "filePath string, chunkIndex int, vector array<float>, text string"
    )
    out = search.hybrid_search(
        chunks, [1.0, 0.0], ["spark"], k=2, grouping=None, max_files=None
    ).collect()
    assert len(out) == 2
    assert out[0].filePath == "/a" and out[0].chunkIndex == 0
    # a scope that matches nothing: an empty answer with the same columns
    empty = search.hybrid_search(
        chunks, [1.0, 0.0], ["spark"], k=2, scope=["/none"]
    )
    assert empty.columns == ["filePath", "chunkIndex", "text", "score"]
    assert empty.collect() == []


def test_vector_topk_batch_matches_single_queries(spark):
    """Batched multi-query W1 must be row-identical per query to separate
    vector_topk calls (same rounded distance, same candidate count)."""
    import numpy as np

    from mcp_local_rag_spark.operators.search import vector_topk, vector_topk_batch

    rng = np.random.RandomState(3)
    rows = [
        (f"/d{i}.md", i, [float(x) for x in rng.randn(8)]) for i in range(200)
    ]
    chunks = spark.createDataFrame(
        rows, "filePath string, chunkIndex int, vector array<double>"
    )
    qvecs = {
        "0": [float(x) for x in rng.randn(8)],
        "1": [float(x) for x in rng.randn(8)],
    }
    batch = vector_topk_batch(chunks, qvecs, k=5)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.filePath, r.chunkIndex, r.score))
    for qid, vec in qvecs.items():
        single = [
            (r.filePath, r.chunkIndex, r.score)
            for r in vector_topk(chunks, vec, 5).collect()
        ]
        assert sorted(got[qid]) == sorted(single), qid
        assert len(single) == 10  # k * overfetch


def test_pin_document_frame_neighbors_identical(spark, tmp_path):
    """Reads against the pinned single-bucket frame return exactly the
    rows of the unpinned in-plan read — pinning changes the physical
    source (InMemoryRelation vs parquet scan), never the result."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators.neighbors import (
        pin_document_frame,
        read_neighbors,
    )
    from mcp_local_rag_spark.plans.ingest import table_n_buckets, write_chunks

    table = str(tmp_path / "chunks_pin")
    doc = "/pin/doc.md"
    rows = spark.range(200).select(
        F.lit(doc).alias("filePath"),
        F.col("id").cast("int").alias("chunkIndex"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
    )
    write_chunks(rows, table)
    chunks = spark.read.parquet(table)
    pinned = pin_document_frame(chunks, doc, n_buckets=table_n_buckets(table))
    try:
        for target in (0, 7, 199):
            plain = [tuple(r) for r in read_neighbors(chunks, doc, target).collect()]
            fast = [tuple(r) for r in read_neighbors(pinned, doc, target).collect()]
            assert plain == fast and plain
        plan = pinned._jdf.queryExecution().executedPlan().toString()
        assert "InMemory" in plan
    finally:
        pinned.unpersist()


def test_read_neighbors_string_bounds_equal_plain_between(spark, tmp_path):
    """The r16 predicate (block-rounded coarse BETWEEN + zero-padded
    string bounds, one codegen shape per document) must select exactly
    the rows of a plain integer BETWEEN — including across the
    _INDEX_BLOCK boundary, at index 0, with targets past the table end,
    with negative targets (empty frame), and near the int32 clamp."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators import neighbors as N
    from mcp_local_rag_spark.plans.ingest import write_chunks

    table = str(tmp_path / "chunks_sb")
    doc = "/sb/doc.md"
    blk = N._INDEX_BLOCK
    # sparse indices straddling the block boundary and the int32 edge
    idxs = [0, 1, 2, 5, blk - 2, blk - 1, blk, blk + 1, N._INT_MAX - 1, N._INT_MAX]
    rows = spark.createDataFrame(
        [(doc, i, f"text {i}") for i in idxs],
        "filePath string, chunkIndex int, text string",
    )
    write_chunks(rows, table)
    chunks = spark.read.parquet(table)

    def plain(target, before, after):
        lo = max(target - before, 0)
        hi = target + after
        if hi < lo:
            return []
        got = (
            chunks.where(
                (F.col("filePath") == doc)
                & (F.col("chunkIndex") >= lo)
                & (F.col("chunkIndex") <= min(hi, N._INT_MAX))
            )
            .orderBy("chunkIndex")
            .collect()
        )
        return [tuple(r) for r in got]

    cases = [
        (0, 2, 2), (1, 2, 2), (blk - 1, 2, 2), (blk, 2, 2), (blk + 1, 1, 1),
        (blk - 1, 0, 0), (10**7, 2, 2), (-5, 2, 2), (-1, 0, 0),
        (N._INT_MAX, 2, 2), (N._INT_MAX - 1, 1, 50), (3, 50, 50),
    ]
    for target, before, after in cases:
        got = [
            tuple(r)
            for r in N.read_neighbors(
                chunks, doc, target, before=before, after=after
            ).collect()
        ]
        assert got == plain(target, before, after), (target, before, after)


def test_read_neighbors_path_literal_escaping_matches_column_filter(spark):
    """The r16 single-expression predicate splices filePath into SQL text
    (_sql_str_lit). Every hostile path shape — quotes, lone/trailing
    backslashes, escape-looking sequences (\\n, \\t, \\x, \\u),
    percent/underscore, unicode, spaces — must select exactly the rows
    the F.lit Column comparison selects."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators import neighbors as N

    nasty = [
        "/plain/doc.md",
        "/has'quote.md",
        "/has\\backslash.md",
        "/trailing\\",
        "/double\\\\bs.md",
        "/quote'and\\bs.md",
        "/newline-ish\\n.md",
        "/tab-ish\\t.md",
        "/hexish\\x41.md",
        "/uniish\\u0041.md",
        "/percent%_under.md",
        "/ünïcødé/文档.md",
        "/space in name.md",
        '/double"quote.md',
    ]
    rows = [(p, i, f"{p}#{i}") for p in nasty for i in range(3)]
    chunks = spark.createDataFrame(
        rows, "filePath string, chunkIndex int, text string"
    )
    for p in nasty:
        got = [
            tuple(r)
            for r in N.read_neighbors(chunks, p, 1, before=1, after=1).collect()
        ]
        want = [
            tuple(r)
            for r in chunks.where(F.col("filePath") == F.lit(p))
            .orderBy("chunkIndex")
            .collect()
        ]
        assert got == want and len(got) == 3, p


def test_hybrid_search_batch_matches_single_calls(spark):
    """The batched full-hybrid pipeline must be row-identical per query to
    N separate hybrid_search calls — including grouping, BM25 boost with
    global stats, max-normalization, file filter, and final top-k."""
    import numpy as np

    from mcp_local_rag_spark.operators.search import (
        hybrid_search,
        hybrid_search_batch,
    )

    rng = np.random.RandomState(11)
    words = ["spark", "join", "filter", "merge", "cache", "scan", "sort"]
    rows = []
    for i in range(120):
        text = " ".join(words[(i + j) % len(words)] for j in range(3 + i % 5))
        rows.append((f"/f{i % 7}.md", i, text, [float(x) for x in rng.randn(6)]))
    chunks = spark.createDataFrame(
        rows, "filePath string, chunkIndex int, text string, vector array<double>"
    )
    qvecs = {
        "0": [float(x) for x in rng.randn(6)],
        "1": [float(x) for x in rng.randn(6)],
        "2": [float(x) for x in rng.randn(6)],
    }
    qterms = {"0": ["spark", "join"], "1": ["cache"], "2": []}  # 2 = vector-only

    batch = hybrid_search_batch(
        chunks, qvecs, qterms, k=5, grouping="related", max_files=2,
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.filePath, r.chunkIndex, r.score))

    for qid, vec in qvecs.items():
        single = [
            (r.filePath, r.chunkIndex, r.score)
            for r in hybrid_search(
                chunks, vec, qterms[qid], k=5, grouping="related", max_files=2,
            ).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(single), qid
        assert single  # non-degenerate per query


def test_hybrid_search_batch_scope_and_max_distance(spark):
    """Batch-wide scope and max-distance filters match the single path's
    pushdown semantics (filter BEFORE top-k, exact post-rounding cut)."""
    import numpy as np

    from mcp_local_rag_spark.operators.search import (
        hybrid_search,
        hybrid_search_batch,
    )

    rng = np.random.RandomState(5)
    rows = [
        (f"/{'in' if i % 2 else 'out'}/f{i}.md", i, "spark join words",
         [float(x) for x in rng.randn(6)])
        for i in range(80)
    ]
    chunks = spark.createDataFrame(
        rows, "filePath string, chunkIndex int, text string, vector array<double>"
    )
    qvecs = {"0": [float(x) for x in rng.randn(6)], "1": [float(x) for x in rng.randn(6)]}
    qterms = {"0": ["spark"], "1": ["join"]}

    batch = hybrid_search_batch(
        chunks, qvecs, qterms, k=4, scope=["/in"], max_distance=1.2,
    )
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.filePath, r.chunkIndex, r.score))
    for qid, vec in qvecs.items():
        single = [
            (r.filePath, r.chunkIndex, r.score)
            for r in hybrid_search(
                chunks, vec, qterms[qid], k=4, grouping=None, max_files=None,
                scope=["/in"], max_distance=1.2,
            ).collect()
        ]
        assert sorted(got.get(qid, [])) == sorted(single), qid
        assert all(fp.startswith("/in/") for fp, _, _ in single)


def _tail_case(rng, n, *, tie=False):
    """``n`` candidates over 4 files: clustered rounded distances (so the
    grouping gaps bite), unique chunkIndex, BM25 scores for about half."""
    base = [0.1, 0.12, 0.13, 0.14, 0.45, 0.46, 0.48, 0.9, 0.91, 0.95, 1.3, 1.31]
    rows = [
        {
            # file names do not sort in best-score order
            "filePath": f"/f{3 * i % 4}.md",
            "chunkIndex": i,
            "score": round(base[i % len(base)] + 0.001 * rng.rand(), 6),
        }
        for i in range(n)
    ]
    if tie and n >= 3:
        # same distance and no keyword hit: only the id tie-break orders
        rows[1]["score"] = rows[2]["score"] = rows[0]["score"]
    kw = {
        (r["filePath"], r["chunkIndex"]): float(rng.rand() * 5)
        for r in rows
        if rng.rand() < 0.5 and not (tie and r["chunkIndex"] in (1, 2))
    }
    return rows, kw


def test_driver_tail_matches_spark_operators(spark):
    """The driver rerank (group_candidates -> boost_rows -> file_cut ->
    top_rows) is row-identical to the Spark operators it replaced in
    hybrid_search (grouping_filter -> keyword_boost -> file_topn_filter
    -> final_topk) over the same candidates and keyword scores."""
    import numpy as np

    rng = np.random.RandomState(7)
    full, full_kw = _tail_case(rng, 12)
    tied, tied_kw = _tail_case(rng, 10, tie=True)
    one, one_kw = _tail_case(rng, 1)
    ids = ("filePath", "chunkIndex")
    cases = [
        ("related", 2, full, full_kw, ids),
        ("similar", None, full, full_kw, ids),
        (None, 3, full, full_kw, ids),
        ("related", None, full, {}, ids),  # a query with no terms
        (None, 2, tied, tied_kw, ids),
        ("similar", 1, one, one_kw, ids),
        ("related", 2, [], {}, ids),  # a scope that matches nothing
        ("related", 2, full, full_kw, ("chunkIndex",)),
        ("similar", None, tied, tied_kw, ("chunkIndex",)),
    ]
    # the fixture is not degenerate: grouping cuts, and 'similar' cuts first
    assert len(search.group_candidates(full, "similar")) < len(
        search.group_candidates(full, "related")
    ) < len(full)
    k = 5
    for mode, max_files, rows, kw_full, id_cols in cases:
        kw = {tuple(key[1:]) if id_cols == ("chunkIndex",) else key: s
              for key, s in kw_full.items()}
        hits = spark.createDataFrame(
            [(r["filePath"], r["chunkIndex"], r["score"]) for r in rows],
            "filePath string, chunkIndex int, score double",
        )
        grouped = search.grouping_filter(hits, mode, id_cols=id_cols)
        kw_df = spark.createDataFrame(
            [(*key, s) for key, s in kw.items()],
            ", ".join(
                [{"filePath": "filePath string", "chunkIndex": "chunkIndex int"}[c]
                 for c in id_cols] + ["_score double"]
            ),
        ).join(grouped.select(*id_cols), list(id_cols), "left_semi")
        want = [
            (r.filePath, r.chunkIndex, r.score)
            for r in search.final_topk(
                search.file_topn_filter(
                    search.keyword_boost(grouped, kw_df, on=id_cols, weight=0.6),
                    max_files,
                ),
                k, id_cols=id_cols,
            ).collect()
        ]
        kept = search.group_candidates(rows, mode, id_cols=id_cols)
        kept_keys = {tuple(r[c] for c in id_cols) for r in kept}
        got = [
            (r["filePath"], r["chunkIndex"], r["score"])
            for r in search.top_rows(
                search.file_cut(
                    search.boost_rows(
                        kept,
                        {key: s for key, s in kw.items() if key in kept_keys},
                        0.6, id_cols=id_cols,
                    ),
                    max_files,
                ),
                k, id_cols=id_cols,
            )
        ]
        assert got == want, (mode, max_files, len(rows), id_cols)
