"""RagEngine reuses one chunks frame and one postings frame per table
version (``RagEngine._versioned``). Every write must still be seen by the
next query and neighbor read — by the writing engine and by a second
engine on the same path, which stands in for a writer in another
process — and a stale index must still fall back to the scan."""

from __future__ import annotations

import pytest

from mcp_local_rag_spark.engine import RagEngine

NEW_TEXT = (
    "Zebra crossings and quartz watches share this brand new document"
    " about nothing else at all."
)


@pytest.fixture()
def engine(spark, tmp_path):
    docs = tmp_path / "docs"
    docs.mkdir()
    for i in range(3):
        (docs / f"d{i}.md").write_text(
            f"Document {i} covers shuffle partitions and broadcast joins,"
            f" topic number {i}, in enough words to chunk.\n"
        )
    eng = RagEngine(spark, str(tmp_path / "t"))
    eng.ingest_directory(str(docs))
    eng.optimize()
    return eng


def _sees(eng: RagEngine, path: str) -> bool:
    """Whether both read paths answer with ``path``'s chunk."""
    hits = eng.query_documents(NEW_TEXT, limit=3).collect()
    scoped = eng.query_documents(NEW_TEXT, limit=3, scope=[path]).collect()
    window = eng.read_chunk_neighbors(path, 0).collect()
    found = [bool(hits) and hits[0].filePath == path, bool(scoped), bool(window)]
    assert len(set(found)) == 1, found
    return found[0]


def _new_doc(eng: RagEngine) -> str:
    path = eng.table_path + "_new.md"
    with open(path, "w") as f:
        f.write(NEW_TEXT + "\n")
    return path


def test_frames_are_reused_until_a_write(engine):
    assert engine.chunks() is engine.chunks()
    assert engine._postings() is engine._postings()
    before = engine.chunks()
    engine.ingest_file(_new_doc(engine))
    assert engine.chunks() is not before


def test_ingest_file_then_optimize(engine):
    path = _new_doc(engine)
    assert not _sees(engine, path)
    postings = engine._postings()
    engine.ingest_file(path)
    # un-optimized: the index is stale and the query takes the scan
    assert not engine.index_is_fresh() and engine._postings() is None
    assert _sees(engine, path)
    engine.optimize()
    assert engine.index_is_fresh()
    assert engine._postings() is not postings
    assert _sees(engine, path)


def test_delete_document_then_optimize(engine):
    path = _new_doc(engine)
    engine.ingest_file(path)
    engine.optimize()
    assert _sees(engine, path)
    engine.delete_document(path)
    assert not engine.index_is_fresh()
    assert not _sees(engine, path)
    engine.optimize()
    assert engine.index_is_fresh()
    assert not _sees(engine, path)


def test_write_by_a_second_engine(spark, engine):
    path = _new_doc(engine)
    assert not _sees(engine, path)
    other = RagEngine(spark, engine.table_path)
    other.ingest_file(path)
    other.optimize()
    assert engine.index_is_fresh()
    assert _sees(engine, path)
    other.delete_document(path)
    other.optimize()
    assert not _sees(engine, path)
