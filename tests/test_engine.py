"""RagEngine facade: the reference's full MCP tool journey — ingest,
query, neighbors, list, status, delete, incremental sync (modify / add /
remove files) — end-to-end on a real directory."""

import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.engine import RagEngine

DOC_A = """---
title: Alpha Doc
---

The alpha document describes shuffle partitioning strategies in detail today.
A second sentence keeps the chunk comfortably above the minimum length bar.
"""

DOC_B = """Beta Title

The beta document concerns broadcast joins and adaptive query execution only.
"""


@pytest.fixture()
def corpus(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "alpha.md").write_text(DOC_A)
    (d / "beta.txt").write_text(DOC_B)
    return d


def test_full_journey(spark, corpus, tmp_path):
    eng = RagEngine(spark, str(tmp_path / "chunks"))
    n = eng.ingest_directory(str(corpus))
    assert n >= 2

    # status + list
    status = eng.get_status()
    assert status["documentCount"] == 2 and status["chunkCount"] == n
    listed = {r.filePath.rsplit("/", 1)[-1]: r for r in eng.list_documents().collect()}
    assert listed["alpha.md"].fileTitle == "Alpha Doc"
    assert listed["alpha.md"].chunkCount >= 1

    # query: exact sentence of alpha -> alpha ranks first (hash embeddings)
    target = (
        eng.chunks().filter("filePath LIKE '%alpha.md'").orderBy("chunkIndex").first()
    )
    hits = eng.query_documents(target.text, limit=2).collect()
    assert hits and hits[0].filePath.endswith("alpha.md")

    # neighbors
    neigh = eng.read_chunk_neighbors(target.filePath, target.chunkIndex).collect()
    assert neigh and neigh[0].chunkIndex >= 0

    # keyword search finds beta via its distinctive term
    kw = eng.keyword_search("broadcast joins", limit=3).collect()
    assert any(r.filePath.endswith("beta.txt") for r in kw)


def test_incremental_sync(spark, corpus, tmp_path):
    eng = RagEngine(spark, str(tmp_path / "chunks2"))
    eng.ingest_directory(str(corpus))
    before = eng.get_status()

    # no changes -> everything skips
    rep = eng.sync(str(corpus))
    assert rep.counters.get("skip", 0) == 2
    assert rep.counters.get("upsert", 0) == 0 and rep.counters.get("prune", 0) == 0
    assert eng.get_status() == before

    # modify alpha, add gamma, remove beta
    (corpus / "alpha.md").write_text(DOC_A + "\nAn appended paragraph changes the stored content hash materially.\n")
    (corpus / "gamma.txt").write_text("Gamma Title\n\nA new gamma document arrives with sufficient length for chunking.\n")
    (corpus / "beta.txt").unlink()

    rep2 = eng.sync(str(corpus))
    assert rep2.counters.get("upsert", 0) == 1      # alpha changed
    assert rep2.counters.get("upsert_new", 0) == 1  # gamma new
    assert rep2.counters.get("prune", 0) == 1       # beta gone

    files = {r.filePath.rsplit("/", 1)[-1] for r in eng.list_documents().collect()}
    assert files == {"alpha.md", "gamma.txt"}
    # alpha's stored hash reflects the new content
    alpha = eng.list_documents().filter("filePath LIKE '%alpha.md'").first()
    import hashlib

    assert alpha.contentHash == hashlib.sha256((corpus / "alpha.md").read_bytes()).hexdigest()

    # idempotence: a second sync is all skips
    rep3 = eng.sync(str(corpus))
    assert rep3.counters.get("skip", 0) == 2


def test_sync_reports_coverage_warnings(spark, corpus, tmp_path):
    """Unobserved regions (symlinks, oversized files) surface as warnings
    AND protect their keys from pruning in the same run."""
    import os

    (corpus / "big.md").write_text("x" * 100)
    os.symlink(str(corpus / "alpha.md"), str(corpus / "link.md"))
    eng = RagEngine(spark, str(tmp_path / "chunks_warn"))
    eng.ingest_directory(str(corpus))

    # shrink the size limit by monkeypatching scan via exclude? simpler:
    # the symlink alone must be reported
    rep = eng.sync(str(corpus))
    assert any("skipped symlink" in w and "link.md" in w for w in rep.warnings)


def test_cross_path_ingest_equivalence(spark, corpus, tmp_path):
    """Directory ingest and per-file ingest produce identical queryable
    state (the reference's CLI-vs-MCP equivalence contract,
    src/__tests__/cli/ingest-cross-path-equivalence.test.ts) — identical
    chunk text/order/titles/hashes; only ids and timestamps may differ."""
    a = RagEngine(spark, str(tmp_path / "via_dir"))
    a.ingest_directory(str(corpus))
    b = RagEngine(spark, str(tmp_path / "via_files"))
    for f in sorted(corpus.iterdir()):
        b.ingest_file(str(f))

    def state(eng):
        return sorted(
            (r.filePath.rsplit("/", 1)[-1], r.chunkIndex, r.text, r.fileTitle,
             r.contentHash, tuple(r.vector))
            for r in eng.chunks().collect()
        )

    assert state(a) == state(b)


def test_query_documents_restores_raw_data_source(spark, tmp_path):
    """Raw-data hits carry their recovered source; file hits carry NULL
    (reference response shaping, src/server/index.ts:480-497)."""
    eng = RagEngine(spark, str(tmp_path / "chunks_src"))
    eng.ingest_data(
        "# Raw Guide\n\nA raw-data document about broadcast joins with plenty"
        " of text to chunk.",
        "https://example.com/raw-guide",
    )
    hits = eng.query_documents("broadcast joins", limit=3).collect()
    assert hits and hits[0].source == "https://example.com/raw-guide"

    # weight outside [0,1] is clamped, not an error
    assert eng.query_documents("broadcast joins", hybrid_weight=7.5).count() >= 1


def test_ingest_data_zero_chunk_failfast(spark, tmp_path):
    """A re-ingest that chunks to zero (empty HTML extraction, whitespace
    content) fails BEFORE the delete — stored rows survive, mirroring
    ingest_file (reference src/server/index.ts:637-642, 753-757)."""
    import pytest

    eng = RagEngine(spark, str(tmp_path / "chunks_guard"))
    src = "https://example.com/guarded"
    n = eng.ingest_data(
        "# Guarded\n\nReal content about shuffle partitions that chunks fine.",
        src,
    )
    assert n > 0
    with pytest.raises(ValueError, match="left intact"):
        eng.ingest_data("<html><body><nav>menu only</nav></body></html>", src, format="html")
    with pytest.raises(ValueError, match="left intact"):
        eng.ingest_data("   \n\t  ", src)
    # original rows untouched by both failed re-ingests
    assert eng.chunks().count() == n


def test_ingest_data_custom_db_path_restores_source(spark, tmp_path):
    """Engine-level db_path: raw-data rows ingested under a non-default
    root still get their source restored in query results (ADVICE r2)."""
    eng = RagEngine(
        spark, str(tmp_path / "chunks_dbp"), db_path=str(tmp_path / "mydb")
    )
    eng.ingest_data(
        "# Custom Root\n\nPlenty of text about watermark semantics and late"
        " data handling so the chunker keeps this document around.",
        "https://example.com/custom-root",
    )
    hits = eng.query_documents("watermark semantics", limit=3).collect()
    assert hits and hits[0].source == "https://example.com/custom-root"


# slow (verify-window, r16): postings maintenance stays default-covered by test_stream_ingest_maintains_postings_index / test_incremental_sync
@pytest.mark.slow
def test_maintained_postings_index_lifecycle(spark, corpus, tmp_path):
    """The maintained index is ON by default; bulk ingest ends with
    optimize() so fresh queries use it immediately. Stale states (un-
    optimized single-file mutations) fall back to the scan shape with
    identical results; per-document refresh tracks upserts and deletes."""
    eng = RagEngine(
        spark,
        str(tmp_path / "chunks_idx"),
        postings_path=str(tmp_path / "postings_idx"),
    )
    eng.ingest_directory(str(corpus))
    assert eng._postings() is not None  # bulk ingest auto-optimizes
    kw_idx0 = {(r.filePath, r.chunkIndex) for r in eng.keyword_search("broadcast joins").collect()}

    # a single-file mutation leaves the index stale -> scan fallback,
    # identical results; optimize() restores the indexed path
    eng.ingest_file(str(corpus / "alpha.md"))
    assert eng._postings() is None  # stale until optimize
    kw_scan = {(r.filePath, r.chunkIndex) for r in eng.keyword_search("broadcast joins").collect()}
    assert kw_scan == kw_idx0

    eng.optimize()
    assert eng._postings() is not None
    kw_idx = {(r.filePath, r.chunkIndex) for r in eng.keyword_search("broadcast joins").collect()}
    assert kw_idx == kw_scan and kw_idx

    # delete beta -> stale; optimize refreshes bucket-locally; its postings go
    beta = next(
        r.filePath for r in eng.list_documents().collect() if r.filePath.endswith("beta.txt")
    )
    eng.delete_document(beta)
    assert eng._postings() is None
    eng.optimize()
    stored = spark.read.parquet(eng.postings_path)
    assert stored.filter(stored.filePath == beta).count() == 0
    assert not eng.keyword_search("broadcast joins").collect()


def test_ingest_file_replace_and_zero_chunk_failfast(spark, corpus, tmp_path):
    """Single-file ingest replaces a document's rows idempotently; a file
    that yields zero chunks fails BEFORE any destructive write."""
    eng = RagEngine(spark, str(tmp_path / "chunks_one"))
    res = eng.ingest_file(str(corpus / "alpha.md"))
    assert res["chunkCount"] >= 1 and res["fileTitle"] == "Alpha Doc"
    before = eng.get_status()

    # re-ingest same file -> replaced, not duplicated
    res2 = eng.ingest_file(str(corpus / "alpha.md"))
    assert res2["chunkCount"] == res["chunkCount"]
    after = eng.get_status()
    # the intent window differs by design: the FIRST ingest's overwrite
    # wiped the sidecar (fresh table), the re-ingest's append keeps its
    # recorded path until the amortized optimize() closes the window
    assert after.pop("pendingIntent") == {
        "full": False, "paths": 1, "annBuild": False,
    }
    before.pop("pendingIntent")
    assert after == before

    # zero-chunk outcome (garbage-only content) -> error, rows intact;
    # the guard raises BEFORE _mark_index_dirty, so the intent window is
    # exactly the re-ingest's (unchanged by the failed attempt)
    (corpus / "alpha.md").write_text("----\n\n----\n")
    with pytest.raises(ValueError, match="no chunks"):
        eng.ingest_file(str(corpus / "alpha.md"))
    final = eng.get_status()
    assert final.pop("pendingIntent") == {
        "full": False, "paths": 1, "annBuild": False,
    }
    assert final == before


def test_sync_many_files_batched_execute(spark, tmp_path):
    """A sync touching many documents executes as batched bucket rewrites:
    30 modified + 20 pruned files converge in one pass with correct final
    state (upsert-before-prune ordering preserved)."""
    import os as _os

    # verify-window trim (r16): 30 files (18 upsert / 12 prune) still
    # exercises the batched bucket-rewrite path; FULL restores 50/30/20
    n_all, n_upd = (
        (50, 30) if _os.environ.get("SPARK_GRAFT_FULL_TESTS") else (30, 18)
    )
    d = tmp_path / "many"
    d.mkdir()
    for i in range(n_all):
        (d / f"doc{i:02d}.md").write_text(
            f"# Doc {i}\n\nDocument number {i} has a body paragraph long enough"
            " to produce at least one chunk after splitting.\n"
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_many"))
    eng.ingest_directory(str(d))
    assert eng.get_status()["documentCount"] == n_all

    for i in range(n_upd):
        (d / f"doc{i:02d}.md").write_text(
            f"# Doc {i} v2\n\nDocument number {i} now carries completely revised"
            " body content that changes its stored hash materially.\n"
        )
    for i in range(n_upd, n_all):
        (d / f"doc{i:02d}.md").unlink()

    rep = eng.sync(str(d))
    assert rep.counters.get("upsert", 0) == n_upd
    assert rep.counters.get("prune", 0) == n_all - n_upd
    assert eng.get_status()["documentCount"] == n_upd
    titles = {r.fileTitle for r in eng.list_documents().collect()}
    assert titles == {f"Doc {i} v2" for i in range(n_upd)}

    rep2 = eng.sync(str(d))
    assert rep2.counters.get("skip", 0) == n_upd


def test_delete_documents_batched(spark, tmp_path, corpus):
    from mcp_local_rag_spark.plans.ingest import delete_documents

    eng = RagEngine(spark, str(tmp_path / "chunks_del"))
    eng.ingest_directory(str(corpus))
    paths = [r.filePath for r in eng.list_documents().collect()]
    before = eng.get_status()["chunkCount"]
    n = delete_documents(spark, eng.table_path, paths + ["/nonexistent.md"])
    assert n == before
    assert eng.get_status()["chunkCount"] == 0
    assert delete_documents(spark, eng.table_path, []) == 0


def test_docx_ingest_end_to_end(spark, tmp_path):
    """A .docx in the corpus parses (stdlib zip+XML), its table rows become
    atomic chunks that survive the min-length filter, and the title chain
    resolves from core.xml."""
    from tests.test_parsers import _p, _tbl, make_docx

    d = tmp_path / "docs"
    d.mkdir()
    body = (
        _p("Quarterly Report", style="Heading1")
        + _p(
            "The quarterly report paragraph carries enough prose to clear the"
            " minimum chunk length threshold comfortably."
        )
        + _tbl([["Name", "Role"], ["Ada", "Engineer"]])
    )
    (d / "report.docx").write_bytes(make_docx(body, core_title="Q3 Report"))
    eng = RagEngine(spark, str(tmp_path / "chunks_docx"))
    n = eng.ingest_directory(str(d))
    assert n >= 2

    listed = eng.list_documents().first()
    assert listed.fileTitle == "Q3 Report"
    texts = [r.text for r in eng.chunks().collect()]
    # the short atomic table row survives despite being < 50 chars
    assert any("Name: Ada" in t and "Role: Engineer" in t for t in texts)


def test_pdf_ingest_end_to_end(spark, tmp_path):
    """A real .pdf (stdlib-written, Flate-compressed) flows through the
    whole pipeline: pdf_mini decode -> T5 header/footer strip -> T7 title
    chain -> chunks stored and searchable. The single remaining S6 gap
    from round 2 closed without pymupdf."""
    from mcp_local_rag_spark.sources.pdf_mini import build_pdf

    pages = []
    for p in range(1, 5):
        pages.append(
            [
                (50.0, 780.0, 6.0, "Acme Internal Draft header."),
                (
                    50.0,
                    400.0,
                    11.0,
                    f"Page {p} explains distributed query planning with enough"
                    f" prose to clear the minimum chunk threshold, variant {p}.",
                ),
                (50.0, 10.0, 6.0, "Confidential footer marker."),
            ]
        )
    d = tmp_path / "docs"
    d.mkdir()
    (d / "planning.pdf").write_bytes(build_pdf(pages, title="Planning Guide"))
    eng = RagEngine(spark, str(tmp_path / "chunks_pdf"))
    n = eng.ingest_directory(str(d))
    assert n >= 1

    listed = eng.list_documents().first()
    assert listed.fileTitle == "Planning Guide"
    texts = [r.text for r in eng.chunks().collect()]
    joined = "\n".join(texts)
    # T5 strip removed the repeated boundary sentences from every page
    assert "Acme Internal Draft" not in joined
    assert "Confidential footer" not in joined
    assert "distributed query planning" in joined

    hits = eng.query_documents("distributed query planning", limit=3).collect()
    assert hits and hits[0].filePath.endswith("planning.pdf")


def test_html_ingest_data_end_to_end(spark, tmp_path):
    """ingest_data with format=html runs main-content extraction; the
    stored raw-data path recovers the source."""
    from mcp_local_rag_spark.plans.raw_data import path_to_source

    html = (
        "<html><head><title>Spark Guide</title></head><body>"
        "<nav>menu noise</nav><article>"
        "<h1>Shuffles</h1>"
        "<p>A long paragraph describing shuffle behavior in distributed joins"
        " with enough text to form a chunk of its own.</p>"
        "</article><footer>footer</footer></body></html>"
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_html"))
    n = eng.ingest_data(html, "https://example.com/guide?utm=x", format="html")
    assert n >= 1
    row = eng.chunks().first()
    assert row.fileTitle == "Spark Guide"
    assert "menu noise" not in row.text and "footer" not in row.text
    # source identity: query+fragment stripped, path recoverable
    assert path_to_source(row.filePath) == "https://example.com/guide"


def test_sync_case_sensitive_keys_on_linux(spark, tmp_path):
    """On a case-sensitive filesystem, README.md and readme.md are distinct
    documents with distinct sync keys (reference lowercases only on win32,
    src/utils/sync-path-key.ts:29-34). Unconditional folding would merge
    them into one never-converging upsert key."""
    import sys

    if sys.platform == "win32":
        pytest.skip("case-insensitive platform")
    d = tmp_path / "cased"
    d.mkdir()
    (d / "README.md").write_text(
        "Upper Readme\n\nThe uppercase readme file has enough text for one chunk.\n"
    )
    (d / "readme.md").write_text(
        "Lower Readme\n\nThe lowercase readme file also has enough text to chunk.\n"
    )
    eng = RagEngine(spark, str(tmp_path / "chunks3"))
    eng.ingest_directory(str(d))
    assert eng.get_status()["documentCount"] == 2

    # both keys converge to skip — they never collapse into one dirty key
    rep = eng.sync(str(d))
    assert rep.counters.get("skip", 0) == 2
    assert rep.counters.get("upsert", 0) == 0


def test_hashing_backend_semantic_ranking(spark, tmp_path):
    """The reference's search integration test shape ("the chunk about X
    ranks first", src/server/__tests__/rag-server.search.integration.
    test.ts) — runnable without a model via the feature-hashing backend,
    which gives REAL lexical similarity (token overlap => cosine), unlike
    the locality-free pseudo embedder."""
    d = tmp_path / "docs"
    d.mkdir()
    (d / "joins.md").write_text(
        "# Joins\n\nBroadcast hash joins replicate the small build side to"
        " every executor so the probe side streams without any shuffle.\n"
    )
    (d / "streams.md").write_text(
        "# Streams\n\nWatermarks bound how late events may arrive before"
        " a window closes and state is evicted from the store.\n"
    )
    (d / "storage.md").write_text(
        "# Storage\n\nParquet row groups carry min and max statistics that"
        " let scans skip pages which cannot match a predicate.\n"
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_hash"), backend="hashing")
    eng.ingest_directory(str(d))

    top = eng.query_documents("broadcast hash joins executor", limit=3).first()
    assert top.filePath.endswith("joins.md")
    top2 = eng.query_documents("watermark late events window", limit=3).first()
    assert top2.filePath.endswith("streams.md")
    top3 = eng.query_documents("parquet row group statistics", limit=3).first()
    assert top3.filePath.endswith("storage.md")


def test_query_documents_whitespace_query(spark, corpus, tmp_path):
    """A whitespace-only query has zero terms: the hybrid path must still
    answer (vector-only ranking), not raise (ADVICE r4 bm25 guard)."""
    eng = RagEngine(spark, str(tmp_path / "chunks_ws"))
    eng.ingest_directory(str(corpus))
    rows = eng.query_documents("   \t  ", limit=3).collect()
    assert len(rows) >= 1


def test_sync_protects_managed_rows(spark, corpus, tmp_path):
    """Raw-data rows (virtual paths) and '#rN' record rows are managed by
    their own ingest paths — a routine directory sync must NOT classify
    them prune (ADVICE r4). Records ARE pruned once their container file
    is deleted from disk."""
    import json

    eng = RagEngine(
        spark, str(tmp_path / "chunks_m"), db_path=str(tmp_path / "db")
    )
    eng.ingest_directory(str(corpus))
    eng.ingest_data(
        "A raw data document with enough real sentence content to chunk.",
        "https://example.com/x",
    )
    cont = tmp_path / "recs.jsonl"
    cont.write_text(
        "\n".join(
            json.dumps(
                {
                    "id": i,
                    "title": f"Rec {i}",
                    "text": f"Record {i} body text long enough to pass the minimum chunk length bar.",
                }
            )
            for i in range(3)
        )
    )
    eng.ingest_records_file(str(cont))
    before = eng.get_status()

    rep = eng.sync(str(corpus))
    assert rep.counters.get("prune", 0) == 0
    assert eng.get_status() == before  # managed rows survived the sync

    # container deleted on disk -> its records prune on the next sync
    cont.unlink()
    rep2 = eng.sync(str(corpus))
    assert rep2.counters.get("prune", 0) == 3
    files = {r.filePath for r in eng.list_documents().collect()}
    assert not any("#r" in f for f in files)
    assert any("/raw-data/" in f for f in files)  # raw-data still intact


def test_sync_reconciles_lookalike_record_filename(spark, corpus, tmp_path):
    """A REAL on-disk file whose name merely looks like a record row
    ('notes#r1') and was ingested via sync is a normal document: it must
    stay in the reconciliation plan (not be silently classified as a
    managed record row) and must NOT be deleted by the container-gone
    check (record-row classification is container MEMBERSHIP in the
    persisted table property, not a path pattern — ADVICE r5)."""
    lookalike = corpus / "notes#r1.md"
    lookalike.write_text(
        "# Lookalike\n\nA document whose file name ends in a record suffix "
        "pattern but is a real file on disk with enough content to chunk."
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_lk"))
    rep = eng.sync(str(corpus))
    assert rep.counters.get("upsert_new", 0) >= 3  # lookalike ingested too
    files = {r.filePath.rsplit("/", 1)[-1] for r in eng.list_documents().collect()}
    assert "notes#r1.md" in files

    # a second sync with no disk changes must neither prune nor re-ingest it
    rep2 = eng.sync(str(corpus))
    assert rep2.counters.get("prune", 0) == 0
    files2 = {r.filePath.rsplit("/", 1)[-1] for r in eng.list_documents().collect()}
    assert "notes#r1.md" in files2

    # and deleting it on disk prunes it like any ordinary document
    lookalike.unlink()
    rep3 = eng.sync(str(corpus))
    assert rep3.counters.get("prune", 0) == 1
    files3 = {r.filePath.rsplit("/", 1)[-1] for r in eng.list_documents().collect()}
    assert "notes#r1.md" not in files3


def test_sync_migrates_legacy_record_tables(spark, corpus, tmp_path):
    """A table whose meta predates the record_containers property (key
    absent) must have the property seeded from the historical '#rN' sweep
    before sync classifies anything — otherwise every legacy record row
    would be pruned on the first post-upgrade sync."""
    import json

    eng = RagEngine(spark, str(tmp_path / "chunks_mig"))
    eng.ingest_directory(str(corpus))
    cont = tmp_path / "legacy.jsonl"
    cont.write_text(
        "\n".join(
            json.dumps({"id": i, "title": f"R{i}",
                        "text": f"Legacy record {i} with plenty of body text to chunk."})
            for i in range(2)
        )
    )
    eng.ingest_records_file(str(cont))
    # simulate the pre-property table: drop the key from meta
    meta_file = tmp_path / "chunks_mig" / "_table_meta.json"
    meta = json.loads(meta_file.read_text())
    del meta["record_containers"]
    meta_file.write_text(json.dumps(meta))

    rep = eng.sync(str(corpus))
    assert rep.counters.get("prune", 0) == 0
    files = {r.filePath for r in eng.list_documents().collect()}
    assert sum("#r" in f for f in files) == 2  # legacy records survived
    # and the property was seeded by the migration
    assert eng._record_containers() == {str(cont)}


def test_case_folding_prunes_mixed_case_containers(spark, corpus, tmp_path, monkeypatch):
    """On a case-folding platform, a gone shard's and a gone record
    container's rows are deleted by their STORED spellings: the keys come
    from the table itself, so folding only the table side of the match
    would leave a mixed-case container's rows behind forever."""
    import json
    import os

    from mcp_local_rag_spark import engine as engine_mod
    from mcp_local_rag_spark.sources.webdataset import write_tar_shard

    monkeypatch.setattr(engine_mod, "CASE_FOLD_KEYS", True)
    body = (
        "A paragraph of prose long enough to chunk, discussing bucketed "
        "rewrites. Another sentence pads it comfortably past the gate.\n"
    )
    drop = tmp_path / "drop"
    drop.mkdir()
    shard = drop / "Shard_A.tar"
    shard.write_bytes(write_tar_shard([("a.md", ("# Alpha\n\n" + body).encode())]))
    cont = tmp_path / "Records.jsonl"
    cont.write_text(
        "\n".join(json.dumps({"id": i, "text": f"Record {i}. {body}"}) for i in range(2))
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_cf"))
    eng.ingest_shards([str(shard)])
    eng.ingest_records_file(str(cont))
    stored = lambda: {r.filePath for r in eng.list_documents().collect()}  # noqa: E731
    assert any(p.startswith(str(shard) + "#") for p in stored())
    assert any(p.startswith(str(cont) + "#r") for p in stored())

    shard.unlink()
    cont.unlink()
    assert eng.sync_shards(str(drop)).counters["prune"] == 1
    assert eng.sync(str(corpus)).counters.get("prune", 0) == 2
    left = stored()
    assert not any("Shard_A" in p or "Records" in p for p in left)
    assert {os.path.basename(p) for p in left} == {"alpha.md", "beta.txt"}


def test_query_documents_batch_matches_single(spark, corpus, tmp_path):
    """The batched serving entry returns, per query, the same ranked rows
    as N separate query_documents calls (same limit, default settings)."""
    eng = RagEngine(spark, str(tmp_path / "chunks_qb"))
    eng.ingest_directory(str(corpus))
    texts = ["shuffle partitioning strategies", "broadcast joins adaptive"]
    batch = eng.query_documents_batch(texts, limit=3)
    by_q = {}
    for r in batch.collect():
        by_q.setdefault(r.query_index, []).append(
            (r.filePath, r.chunkIndex, r.score)
        )
    assert set(by_q) == {"0", "1"}
    for i, t in enumerate(texts):
        single = [
            (r.filePath, r.chunkIndex, r.score)
            for r in eng.query_documents(t, limit=3).collect()
        ]
        assert sorted(by_q[str(i)]) == sorted(single), t
        assert single


def test_punctuated_query_terms_still_match_postings(spark, corpus, tmp_path):
    """Query tokenization must match the corpus tokenizer: 'spark,' split
    on whitespace would never match any posting and the BM25 signal would
    silently vanish."""
    from mcp_local_rag_spark.functions.text import query_terms

    assert query_terms("Spark, streaming!") == ["spark", "streaming"]
    assert query_terms("don't foo-bar") == ["don", "t", "foo", "bar"]

    eng = RagEngine(spark, str(tmp_path / "chunks_punct"))
    eng.ingest_directory(str(corpus))
    clean = {(r.filePath, r.chunkIndex) for r in eng.keyword_search("partitioning").collect()}
    punct = {(r.filePath, r.chunkIndex) for r in eng.keyword_search("partitioning,").collect()}
    assert clean and punct == clean


def test_sync_excluded_prefix_protects_stored_docs(spark, corpus, tmp_path):
    """A sync with exclude_prefixes must SHIELD previously ingested docs
    under the excluded subtree, not prune them: scan simply does not
    observe that region."""
    eng = RagEngine(spark, str(tmp_path / "chunks_excl"))
    sub = corpus / "secret"
    sub.mkdir()
    (sub / "hidden.md").write_text(
        "# Hidden\n\nA confidential document with clearly enough prose to"
        " produce at least one chunk of text."
    )
    eng.ingest_directory(str(corpus))
    docs_before = {
        r.filePath for r in eng.chunks().select("filePath").distinct().collect()
    }
    assert str(sub / "hidden.md") in docs_before

    rep = eng.sync(str(corpus), exclude_prefixes=(str(sub),))
    assert rep.counters.get("prune", 0) == 0
    docs_after = {
        r.filePath for r in eng.chunks().select("filePath").distinct().collect()
    }
    assert docs_after == docs_before


def test_sync_upsert_parse_failure_keeps_stored_rows(spark, corpus, tmp_path):
    """A doc whose re-parse fails after its hash changed must KEEP its
    stored rows (delete only runs for successfully re-parsed docs) and the
    report must carry a warning — not silently vanish as a 'successful'
    upsert."""
    eng = RagEngine(spark, str(tmp_path / "chunks_parsefail"))
    bad = corpus / "fragile.docx"
    from tests.test_parsers import _p, make_docx

    bad.write_bytes(
        make_docx(
            _p(
                "A fragile document that parses fine the first time and has"
                " plenty of text for a chunk."
            ),
            core_title="Fragile",
        )
    )
    eng.ingest_directory(str(corpus))
    rows_before = eng.chunks().filter(F.col("filePath") == str(bad)).count()
    assert rows_before > 0

    bad.write_bytes(b"\x00\x01 not a zip at all")  # corrupt: parse will fail
    rep = eng.sync(str(corpus))
    assert any("stored rows kept" in w for w in rep.warnings)
    assert eng.chunks().filter(F.col("filePath") == str(bad)).count() == rows_before


def test_reopened_engine_uses_table_space(spark, corpus, tmp_path):
    """An engine reopened with mismatched constructor dims must embed
    queries and appends in the TABLE's persisted space."""
    table = str(tmp_path / "chunks_space2")
    eng = RagEngine(spark, table, dim=32, backend="hashing")
    eng.ingest_directory(str(corpus))

    other = RagEngine(spark, table, dim=128, backend="pseudo")
    assert other._space() == ("hashing", 32)
    # query still works (scores are finite, not NULL from a dim mismatch)
    hits = other.query_documents("spark partitioning").collect()
    assert hits and all(r.score is not None for r in hits)
    # and an append lands in the table's 32-dim space
    extra = corpus / "gamma.md"
    extra.write_text(
        "# Gamma\n\nAnother document carrying plenty of words about shuffle"
        " planning so the chunker emits a row."
    )
    other.ingest_file(str(extra))
    dims = {
        r.d
        for r in other.chunks().select(F.size("vector").alias("d")).distinct().collect()
    }
    assert dims == {32}


def test_legacy_table_forward_migration(spark, tmp_path):
    """A table written before fileTitle/contentHash existed (the
    reference's addColumns forward migration, src/vectordb/index.ts:289-307)
    still serves list/status/query — the columns appear as NULL strings —
    and '' values normalize to null on read (types.ts:245-250)."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.embedder import embed_text_column
    from mcp_local_rag_spark.engine import RagEngine
    from mcp_local_rag_spark.plans.ingest import write_chunks

    table = str(tmp_path / "legacy_chunks")
    rows = spark.range(6).select(
        F.concat(F.lit("/old/doc"), (F.col("id") % 2).cast("string"), F.lit(".md")).alias("filePath"),
        (F.col("id") / 2).cast("int").alias("chunkIndex"),
        F.concat(F.lit("legacy chunk body number "), F.col("id").cast("string")).alias("text"),
        F.lit("2024-01-01T00:00:00.000Z").alias("timestamp"),
    )
    write_chunks(embed_text_column(rows, "text", "vector", dim=64), table)

    eng = RagEngine(spark, table)
    docs = {r.filePath: r for r in eng.list_documents().collect()}
    assert len(docs) == 2
    assert all(r.fileTitle is None and r.contentHash is None for r in docs.values())
    assert eng.get_status()["documentCount"] == 2

    # '' normalizes to null on read when the column exists
    with_empty = spark.read.parquet(table).withColumn("fileTitle", F.lit("")).withColumn("contentHash", F.lit("abc"))
    table2 = str(tmp_path / "empty_title")
    write_chunks(with_empty, table2)
    eng2 = RagEngine(spark, table2)
    r = eng2.list_documents().first()
    assert r.fileTitle is None and r.contentHash == "abc"


def test_restart_trusts_covering_index(spark, tmp_path):
    """A restarted engine whose on-disk postings cover the table's
    persisted content version must NOT rebuild the index on its first
    optimize(); an out-of-band mutation (version bump without a covering
    stamp) must trigger the rebuild."""
    import glob
    import os as _os

    from mcp_local_rag_spark.engine import RagEngine

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text(
        "# Doc\n\nSpark shuffles data between executors during wide stages."
    )
    table = str(tmp_path / "chunks_restart")
    eng = RagEngine(spark, table)
    eng.ingest_directory(str(d))  # ends with optimize() -> stamped

    # restart: new engine on the same paths trusts the index
    eng2 = RagEngine(spark, table)
    assert not eng2._needs_full_index
    assert eng2.index_is_fresh()
    before = {
        f: _os.path.getmtime(f)
        for f in glob.glob(f"{eng2.postings_path}/bucket=*/*.parquet")
    }
    eng2.optimize()  # must not rewrite any postings file
    after = {
        f: _os.path.getmtime(f)
        for f in glob.glob(f"{eng2.postings_path}/bucket=*/*.parquet")
    }
    assert before == after

    # out-of-band mutation: another engine ingests WITHOUT optimize.
    # The ingest published an ATTRIBUTED intent (plans/engine_txn), so a
    # restarted engine proves the version chain since the stamp and takes
    # the BOUNDED refresh — not the old full O(corpus) rebuild
    (d / "b.md").write_text(
        "# Two\n\nBroadcast joins avoid the shuffle for small tables here."
    )
    eng3 = RagEngine(spark, table)
    eng3.ingest_file(str(d / "b.md"))  # bumps version, no stamp
    eng4 = RagEngine(spark, table)
    assert not eng4._needs_full_index  # stale stamp DOWNGRADED via intent
    assert str(d / "b.md") in eng4._dirty_upserts
    assert not eng4.index_is_fresh()  # but never trusted until re-synced
    eng4.optimize()
    assert eng4.index_is_fresh()
    # and the fresh stamp holds for the next restart
    assert not RagEngine(spark, table)._needs_full_index

    # a genuinely FOREIGN mutation (direct plans/ingest write, no engine,
    # no intent) breaks the attribution chain: full rebuild, as before
    from mcp_local_rag_spark.plans.ingest import build_chunks, write_chunks

    (d / "c.md").write_text("# Three\n\nSkew salting splits hot keys up.")
    docs = spark.createDataFrame(
        [(str(d / "c.md"), "Skew salting splits hot keys up.", "Three", "h3", 32)],
        "path string, text string, title string, contentHash string, length long",
    )
    write_chunks(build_chunks(docs, dim=64, backend="pseudo"), table, mode="append")
    eng5 = RagEngine(spark, table)
    assert eng5._needs_full_index  # unattributed bump -> no downgrade
    eng5.optimize()
    assert eng5.index_is_fresh()
