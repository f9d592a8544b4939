"""Session factory settings (session.get_spark) that the engine's read
paths depend on — driver-side listing of the bucketed tables, and the one
silenced benign warning — and the Spark jobs and persisted RDDs each
read path costs."""

from __future__ import annotations

import glob
import itertools
import os

import pytest

from mcp_local_rag_spark.engine import RagEngine
from mcp_local_rag_spark.session import count_py4j


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs (job group + statusTracker,
    the tools/time_all_queries.py method)."""
    sc = spark.sparkContext
    group = f"test-session-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _persisted_ids(spark) -> set:
    # ids, not a count: the context cleaner may drop other tests'
    # unreferenced caches meanwhile
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


@pytest.fixture(scope="module")
def wide_engine(spark, tmp_path_factory):
    """~100 one-chunk documents in the default 64 buckets: the chunks
    table and its postings index each hold more than 32 populated bucket
    directories, Spark's default distributed-listing threshold."""
    root = tmp_path_factory.mktemp("wide")
    docs = root / "docs"
    docs.mkdir()
    for i in range(100):
        (docs / f"d{i:03d}.md").write_text(
            f"Document {i} talks about topic{i} and shared words for listing."
        )
    eng = RagEngine(spark, str(root / "chunks"))
    eng.ingest_directory(str(docs))
    for path in (eng.table_path, eng.postings_path):
        assert len(glob.glob(os.path.join(path, "bucket=*"))) > 32, path
    return eng


def test_bucketed_reads_list_on_the_driver(spark, wide_engine):
    eng = wide_engine
    # warm the schema cache (session.read_parquet): a first read of a path
    # infers its schema with a job of its own
    eng.chunks()
    eng._postings()
    assert _jobs(spark, eng.chunks) == 0
    assert _jobs(spark, eng._postings) == 0
    fp = os.path.join(os.path.dirname(eng.table_path), "docs", "d007.md")
    rows = []
    assert _jobs(spark, lambda: rows.extend(
        eng.read_chunk_neighbors(fp, 0).collect()
    )) == 1
    assert [r["filePath"] for r in rows] == [fp]


def test_window_warning_silenced_other_warnings_kept(spark):
    jvm = spark.sparkContext._jvm
    manager = jvm.org.apache.logging.log4j.LogManager
    window = manager.getLogger("org.apache.spark.sql.execution.window.WindowExec")
    assert window.getLevel().toString() == "ERROR"
    other = manager.getLogger("org.apache.spark.sql.catalyst.analysis.HintErrorLogger")
    assert other.isWarnEnabled()


def test_query_documents_is_three_jobs_and_persists_nothing(
    spark, wide_engine, monkeypatch
):
    """Spark runs the vector top-k (one job) and one term-grouped postings
    aggregate; the driver reranks the candidates and returns a
    LocalRelation, so collecting the answer submits no job, and no RDD
    stays persisted."""
    eng = wide_engine
    query = "shared words about topic7"
    eng.query_documents(query, limit=5).collect()  # warm the schema caches
    before = _persisted_ids(spark)
    frames, rows = [], []
    assert _jobs(spark, lambda: frames.append(
        eng.query_documents(query, limit=5)
    )) <= 3
    assert _jobs(spark, lambda: rows.extend(frames[0].collect())) == 0
    assert rows and _persisted_ids(spark) <= before
    # the scan fallback (mutations pending): the vector top-k, plus the
    # corpus-statistics aggregate the maintained index would have carried
    monkeypatch.setattr(eng, "index_is_fresh", lambda: False)
    assert _jobs(spark, lambda: rows.extend(
        eng.query_documents(query, limit=5).collect()
    )) <= 3
    assert _persisted_ids(spark) <= before


def test_warm_reads_py4j_round_trips(wide_engine):
    """Python -> JVM round trips (py4j commands the calling thread sends)
    of a warm Spark-path query, construct and collect, and of a warm
    neighbor read. Measured here: 132 and 45, the same on every warm
    pass. Before the query's stages were built from SQL text over one
    reused base frame per table version, with its answer shaped on the
    driver, the same calls took 685 and 132. Each cap is the measured
    count plus ~10%."""
    eng = wide_engine
    fp = os.path.join(os.path.dirname(eng.table_path), "docs", "d007.md")
    for _ in range(3):  # the last pass is warm: frames and caches built
        with count_py4j(eng.spark) as query:
            eng.query_documents("shared words about topic7", limit=5).collect()
        with count_py4j(eng.spark) as neighbors:
            eng.read_chunk_neighbors(fp, 0).collect()
    assert query["commands"] <= 145
    assert neighbors["commands"] <= 50


def test_keyword_search_on_fresh_index_persists_nothing(spark, wide_engine):
    """The maintained index is read as a pruned scan, not cached."""
    before = _persisted_ids(spark)
    rows = wide_engine.keyword_search("shared words", limit=3).collect()
    assert len(rows) == 3
    assert _persisted_ids(spark) <= before


def test_query_documents_batch_is_three_jobs_and_persists_nothing(
    spark, wide_engine, monkeypatch
):
    """The batch runs hybrid_search's stages once for all its queries:
    the Arrow vector kernel pass (one job: the per-query top-n is taken
    on the driver, no window shuffle) and one postings aggregate over
    the union of the queries' terms (two jobs), then the driver rerank;
    collecting the LocalRelation answer submits no job and nothing stays
    persisted. The scan fallback swaps the postings aggregate for one
    corpus-statistics pass."""
    eng = wide_engine
    queries = ["shared words about topic7", "listing topic12", "document"]
    eng.query_documents_batch(queries, limit=5).collect()  # warm schema caches
    before = _persisted_ids(spark)
    frames, rows = [], []
    assert _jobs(spark, lambda: frames.append(
        eng.query_documents_batch(queries, limit=5)
    )) <= 3
    assert _jobs(spark, lambda: rows.extend(frames[0].collect())) == 0
    assert {r["query_index"] for r in rows} == {"0", "1", "2"}
    assert _persisted_ids(spark) <= before
    monkeypatch.setattr(eng, "index_is_fresh", lambda: False)
    scan_rows = []
    assert _jobs(spark, lambda: scan_rows.extend(
        eng.query_documents_batch(queries, limit=5).collect()
    )) <= 3
    assert sorted(map(tuple, scan_rows)) == sorted(map(tuple, rows))
    assert _persisted_ids(spark) <= before


def test_hybrid_search_batch_lane_collects_sorted_with_no_job(spark):
    """The hybrid_search_batch registry lane returns the driver-reranked
    rows already in (query_id, score, chunkIndex) order, so collecting
    its frame submits no Spark job (no Sort/Exchange over the
    LocalRelation) and the rows arrive in that order."""
    from mcp_local_rag_spark.queries import queries
    from tests.test_plans import SF_DIR

    df = queries()["hybrid_search_batch"](spark, SF_DIR)
    rows = []
    assert _jobs(spark, lambda: rows.extend(df.collect())) == 0
    assert {r["query_id"] for r in rows} == {"0", "1", "2"}
    assert rows == sorted(
        rows, key=lambda r: (r["query_id"], r["score"], r["chunkIndex"])
    )


def test_ingest_directory_scans_and_parses_each_file_once(spark, wide_engine):
    """Building plans.ingest.ingest_directory's chunks frame submits no
    job, and its plan reads the files' bytes once per parse: the content
    hash and the file length ride through the parse pass instead of being
    joined back from a second binaryFile scan (that join made the plan
    hold 4 scans for its 2 parses, and build_chunks' partition count
    submitted a job to plan the join)."""
    from mcp_local_rag_spark.plans.ingest import ingest_directory

    docs = os.path.join(os.path.dirname(wide_engine.table_path), "docs")
    built = []
    assert _jobs(spark, lambda: built.append(ingest_directory(spark, docs))) == 0
    chunks, _ = built[0]
    executed = chunks._jdf.queryExecution().executedPlan().toString()
    parses = executed.count("MapInPandas _parse")
    assert parses > 0
    assert executed.count("FileScan binaryFile") == parses


def test_ingest_file_parses_its_file_once(spark, tmp_path):
    """A one-note ingest_file reads and parses the note once: the parsed
    row is persisted before the parse-error gate, and the title, the
    chunk build and the write read it from there. Measured on 4 CPUs: 11
    jobs into a new table and 13 into an existing one (delete included).
    With the parse joined back to a second scan and re-run by each job,
    the same calls took 15 and 17."""
    eng = RagEngine(spark, str(tmp_path / "chunks"))
    counts = []
    for i in range(2):
        note = tmp_path / f"note{i}.md"
        note.write_text(
            f"# Note {i}\n\nA one-note ingest with a full sentence of content"
            f" number {i} that survives chunking comfortably.\n"
        )
        acks = []
        counts.append(_jobs(spark, lambda: acks.append(eng.ingest_file(str(note)))))
        assert acks[0]["chunkCount"] == 1 and acks[0]["fileTitle"] == f"Note {i}"
    assert counts[0] <= 13 and counts[1] <= 13, counts
