"""Persisted postings index: build, score, incremental refresh (plans/fts)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mcp_local_rag_spark.operators.bm25 import bm25_scores, build_postings
from mcp_local_rag_spark.plans.fts import (
    read_postings,
    refresh_postings,
    write_postings,
)


def _chunks(spark, rows):
    return spark.createDataFrame(rows, "filePath string, chunkIndex int, text string")


def test_postings_roundtrip_scores_match_inmemory(spark, tmp_path):
    chunks = _chunks(
        spark,
        [
            ("/a.md", 0, "spark shuffles data across executors"),
            ("/a.md", 1, "broadcast joins avoid the shuffle"),
            ("/b.md", 0, "spark spark spark tuning notes"),
        ],
    )
    path = str(tmp_path / "postings")
    write_postings(chunks, path)
    stored = read_postings(spark, path)

    mem = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(build_postings(chunks), ["spark"], materialize=False).collect()
    }
    disk = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(stored, ["spark"], materialize=False).collect()
    }
    assert mem == disk and len(disk) == 2


def test_refresh_upsert_and_delete_bucket_local(spark, tmp_path):
    """Refresh replaces a changed document's postings and removes a deleted
    document's, leaving untouched documents' rows byte-identical."""
    chunks = _chunks(
        spark,
        [
            ("/a.md", 0, "alpha text about shuffles"),
            ("/b.md", 0, "beta text about joins"),
            ("/c.md", 0, "gamma text about caching"),
        ],
    )
    path = str(tmp_path / "postings2")
    write_postings(chunks, path)

    changed = _chunks(spark, [("/a.md", 0, "alpha rewritten about broadcast")])
    refresh_postings(
        spark, path, changed_chunks=changed, deleted_paths=["/b.md"]
    )
    stored = read_postings(spark, path)
    terms = {
        r.filePath: set()
        for r in stored.select("filePath").distinct().collect()
    }
    for r in stored.collect():
        terms[r.filePath].add(r.term)
    assert set(terms) == {"/a.md", "/c.md"}           # /b.md gone
    assert "broadcast" in terms["/a.md"]              # re-tokenized
    assert "shuffles" not in terms["/a.md"]           # old postings replaced
    assert "caching" in terms["/c.md"]                # untouched doc intact

    # refresh with nothing to do is a no-op
    refresh_postings(spark, path)
    assert read_postings(spark, path).count() == stored.count()


def test_refreshed_index_scores_equal_full_rebuild(spark, tmp_path):
    """After a refresh, scoring over the index equals scoring over a from-
    scratch rebuild of the same logical corpus — the invariant the
    reference's optimize() maintains."""
    base = _chunks(
        spark,
        [("/a.md", 0, "spark query planning"), ("/b.md", 0, "spark shuffle service")],
    )
    path = str(tmp_path / "postings3")
    write_postings(base, path)
    changed = _chunks(spark, [("/b.md", 0, "rewritten spark executor sizing")])
    refresh_postings(spark, path, changed_chunks=changed)

    final_corpus = _chunks(
        spark,
        [("/a.md", 0, "spark query planning"), ("/b.md", 0, "rewritten spark executor sizing")],
    )
    via_refresh = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(
            read_postings(spark, path), ["spark", "executor"], materialize=False
        ).collect()
    }
    via_rebuild = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(
            build_postings(final_corpus), ["spark", "executor"], materialize=False
        ).collect()
    }
    assert via_refresh == via_rebuild


def test_persisted_corpus_stats(spark, tmp_path):
    """The index build persists BM25 corpus statistics (N docs, total doc
    length) as table properties, appends update them incrementally, and
    scoring with stats= matches self-computed scores exactly."""
    import pytest

    from mcp_local_rag_spark.plans.fts import read_fts_stats

    chunks = _chunks(
        spark,
        [
            ("/a.md", 0, "spark shuffles data across executors"),
            ("/a.md", 1, "broadcast joins avoid the shuffle"),
            ("/b.md", 0, "spark spark spark tuning notes"),
        ],
    )
    path = str(tmp_path / "postings")
    write_postings(chunks, path)
    stats = read_fts_stats(path)
    assert stats["n"] == 3 and stats["total_dl"] == 15
    assert stats["avgdl"] == pytest.approx(5.0)

    # streaming-style append: stats update incrementally, no full rescan
    more = _chunks(spark, [("/c.md", 0, "late arriving doc")])
    write_postings(more, path, mode="append")
    stats2 = read_fts_stats(path)
    assert stats2["n"] == 4 and stats2["total_dl"] == 18

    # scoring with the persisted stats == scoring that self-computes them
    stored = read_postings(spark, path)
    self_computed = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(stored, ["spark"], materialize=False).collect()
    }
    with_stats = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(
            stored, ["spark"], materialize=False, stats=stats2
        ).collect()
    }
    assert self_computed == with_stats


def test_refresh_updates_persisted_stats(spark, tmp_path):
    from mcp_local_rag_spark.plans.fts import read_fts_stats

    chunks = _chunks(
        spark,
        [
            ("/a.md", 0, "spark shuffles data across executors"),
            ("/b.md", 0, "spark spark spark tuning notes"),
        ],
    )
    path = str(tmp_path / "postings")
    write_postings(chunks, path)
    assert read_fts_stats(path)["n"] == 2

    refresh_postings(spark, path, deleted_paths=["/b.md"])
    stats = read_fts_stats(path)
    assert stats["n"] == 1 and stats["total_dl"] == 5


def test_term_bucketed_copy_scores_identically_and_prunes(spark, tmp_path):
    """The query-side term-bucketed copy: identical scores to the
    document-aligned index, and a terms-filtered read PARTITION-prunes to
    the query terms' tbucket directories."""
    from mcp_local_rag_spark.plans.fts import (
        read_fts_stats,
        read_term_postings,
        write_term_postings,
    )

    chunks = _chunks(
        spark,
        [
            ("/a.md", 0, "spark shuffles data across executors"),
            ("/a.md", 1, "broadcast joins avoid the shuffle"),
            ("/b.md", 0, "spark spark spark tuning notes"),
        ],
    )
    doc_path = str(tmp_path / "postings_doc")
    term_path = str(tmp_path / "postings_term")
    write_postings(chunks, doc_path)
    write_term_postings(read_postings(spark, doc_path), term_path, n_buckets=8)

    stats = read_fts_stats(doc_path)
    base = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(
            read_postings(spark, doc_path), ["spark"], materialize=False, stats=stats
        ).collect()
    }
    termside = read_term_postings(spark, term_path, terms=["spark"])
    got = {
        (r.filePath, r.chunkIndex): r._score
        for r in bm25_scores(
            termside, ["spark"], materialize=False, stats=stats
        ).collect()
    }
    assert base == got and len(got) == 2

    # the pruned read lists only the matching tbucket directories
    plan = termside._jdf.queryExecution().executedPlan().toString()
    assert "tbucket" in plan  # partition filter present in the scan


def test_append_to_prestats_index_derives_baseline(spark, tmp_path):
    """Appending to a legacy index whose meta lacks the persisted corpus
    counters must derive them from the EXISTING postings, not initialize
    them from the appended batch alone (which would leave n_docs tiny,
    drive df > n terms to a negative idf log argument -> NULL -> silently
    dropped term scores)."""
    import json
    import os

    from mcp_local_rag_spark.plans.fts import read_fts_stats

    chunks = _chunks(
        spark,
        [
            ("/a.md", 0, "spark shuffles data across executors"),
            ("/a.md", 1, "broadcast joins avoid the shuffle"),
            ("/b.md", 0, "spark spark spark tuning notes"),
        ],
    )
    path = str(tmp_path / "postings")
    write_postings(chunks, path)
    # simulate a pre-stats index: strip the persisted counters
    meta_file = os.path.join(path, "_table_meta.json")
    with open(meta_file) as f:
        meta = json.load(f)
    meta.pop("fts_n_docs"), meta.pop("fts_total_dl")
    with open(meta_file, "w") as f:
        json.dump(meta, f)
    assert read_fts_stats(path) is None

    more = _chunks(spark, [("/c.md", 0, "late arriving doc")])
    write_postings(more, path, mode="append")
    stats = read_fts_stats(path)
    # whole corpus (3 old docs + 1 appended), not just the batch
    assert stats["n"] == 4 and stats["total_dl"] == 18

    # and scoring with the persisted stats never yields NULL scores
    scores = bm25_scores(
        read_postings(spark, path), ["spark"], materialize=False, stats=stats
    ).collect()
    assert scores and all(r._score is not None for r in scores)


def test_refresh_touches_buckets_in_one_write(spark, tmp_path, monkeypatch):
    """Incremental refresh rewrites ALL touched buckets in ONE Spark write
    job (dynamic partition overwrite), not a per-bucket driver loop — and
    a touched bucket left empty by deletions has its directory dropped."""
    import glob

    import pyspark.sql.readwriter as rw

    from mcp_local_rag_spark.plans.fts import read_fts_stats

    docs = [(f"/d{i}.md", 0, f"term{i} shared content body") for i in range(12)]
    chunks = _chunks(spark, docs)
    path = str(tmp_path / "postings")
    write_postings(chunks, path, n_buckets=8)
    buckets_before = {
        int(b.rsplit("=", 1)[1]) for b in glob.glob(f"{path}/bucket=*")
    }
    assert len(buckets_before) > 1  # the refresh below spans >1 bucket

    calls = []
    orig = rw.DataFrameWriter.parquet

    def counting(self, p, *a, **k):
        calls.append(p)
        return orig(self, p, *a, **k)

    monkeypatch.setattr(rw.DataFrameWriter, "parquet", counting)
    changed = _chunks(
        spark, [("/d0.md", 0, "rewritten zero body"), ("/d1.md", 0, "rewritten one body")]
    )
    refresh_postings(
        spark, path, changed_chunks=changed,
        deleted_paths=[f"/d{i}.md" for i in range(2, 12)],
    )
    monkeypatch.setattr(rw.DataFrameWriter, "parquet", orig)

    assert len(calls) == 1 and calls[0].rstrip("/") == path, calls

    stored = read_postings(spark, path)
    rows = {(r.filePath, r.term) for r in stored.collect()}
    assert {f for f, _ in rows} == {"/d0.md", "/d1.md"}
    assert ("/d0.md", "rewritten") in rows and ("/d0.md", "term0") not in rows
    # stats re-derived from the refreshed index
    assert read_fts_stats(path)["n"] == 2
    # every surviving bucket holds exactly one file; emptied buckets gone
    for b in glob.glob(f"{path}/bucket=*"):
        assert len(glob.glob(f"{b}/*.parquet")) == 1


def test_refresh_deleting_last_document(spark, tmp_path):
    """A refresh that removes the final document must leave a valid empty
    index (zeroed persisted stats, no stale bucket dirs), not crash on the
    schemaless parquet read."""
    import glob

    from mcp_local_rag_spark.plans.fts import read_fts_stats

    chunks = _chunks(spark, [("/only.md", 0, "the only document here")])
    path = str(tmp_path / "postings")
    write_postings(chunks, path, n_buckets=4)
    refresh_postings(spark, path, deleted_paths=["/only.md"])
    assert glob.glob(f"{path}/bucket=*") == []
    stats = read_fts_stats(path)
    assert stats["n"] == 0 and stats["total_dl"] == 0 and stats["avgdl"] == 0.0


def test_index_has_data_cases(tmp_path):
    """Only a parquet data file, in a bucket dir or at the root, counts as
    data; metadata files and empty bucket dirs do not."""
    from mcp_local_rag_spark.plans.fts import index_has_data

    meta_only = tmp_path / "meta_only"
    meta_only.mkdir()
    (meta_only / "_table_meta.json").write_text("{}")
    (meta_only / "_SUCCESS").write_text("")
    assert not index_has_data(str(meta_only))

    empty_bucket = tmp_path / "empty_bucket"
    (empty_bucket / "bucket=3").mkdir(parents=True)
    assert not index_has_data(str(empty_bucket))

    bucketed = tmp_path / "bucketed"
    (bucketed / "bucket=0").mkdir(parents=True)
    (bucketed / "bucket=1").mkdir()
    (bucketed / "bucket=1" / "part-0.parquet").write_bytes(b"")
    assert index_has_data(str(bucketed))

    flat = tmp_path / "flat"
    flat.mkdir()
    (flat / "part-0.parquet").write_bytes(b"")
    assert index_has_data(str(flat))
