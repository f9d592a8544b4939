"""Session factory settings (session.get_spark) that the engine's read
paths depend on: driver-side listing of the bucketed tables, and the one
silenced benign warning."""

from __future__ import annotations

import glob
import itertools
import os

import pytest

from mcp_local_rag_spark.engine import RagEngine


_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs (job group + statusTracker,
    the tools/job_count.py method)."""
    sc = spark.sparkContext
    group = f"test-session-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


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
