"""CLI surface (mcp_local_rag_spark/cli.py): every reference subcommand
driven in-process against a real engine, JSON-per-line output contract."""

from __future__ import annotations

import io
import json

from mcp_local_rag_spark.cli import run
from mcp_local_rag_spark.engine import RagEngine

DOC = (
    "# CLI Doc\n\n"
    "Spark shuffles data between executors during wide transformations. "
    "Broadcast joins avoid that shuffle for small dimension tables."
)


def _run(engine, *argv):
    buf = io.StringIO()
    rc = run(["--table", engine.table_path, *argv], engine, out=buf)
    assert rc == 0
    return [json.loads(line) for line in buf.getvalue().splitlines()]


def test_cli_surface_end_to_end(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text(DOC)
    eng = RagEngine(spark, str(tmp_path / "chunks_cli"))

    (out,) = _run(eng, "ingest", str(d))
    assert out >= 1  # chunk count

    (status,) = _run(eng, "status")
    assert status["documentCount"] == 1

    (res,) = _run(eng, "query", "broadcast joins", "--limit", "3")
    hits = res["results"]
    assert hits and hits[0]["filePath"].endswith("a.md")

    (lst,) = _run(eng, "list")
    assert len(lst["documents"]) == 1

    fp = hits[0]["filePath"]
    (nb,) = _run(eng, "read-neighbors", fp, str(hits[0]["chunkIndex"]))
    assert nb["chunks"] and nb["chunks"][0]["filePath"] == fp

    # sync picks up a new file
    (d / "b.md").write_text(DOC + " More sentences about caching hot tables.")
    (rep,) = _run(eng, "sync", str(d))
    assert rep["counters"].get("upsert_new", 0) >= 1
    (status2,) = _run(eng, "status")
    assert status2["documentCount"] == 2

    (deleted,) = _run(eng, "delete", str(d / "b.md"))
    assert deleted["deletedChunks"] >= 1
    (status3,) = _run(eng, "status")
    assert status3["documentCount"] == 1


def test_cli_query_leaves_no_persisted_frames(spark, tmp_path):
    """The query command unpersists its own intermediates, as the MCP
    server's per-request persist_scope does."""
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text(DOC)
    eng = RagEngine(spark, str(tmp_path / "chunks_cli_persist"))
    _run(eng, "ingest", str(d))

    def persisted_ids():
        # ids, not a count: the context cleaner may drop other tests'
        # unreferenced caches meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted_ids()
    for _ in range(2):
        (res,) = _run(eng, "query", "broadcast joins", "--limit", "3")
        assert res["results"]
    assert persisted_ids() <= before


def test_cli_ann_build(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    for i in range(3):
        (d / f"d{i}.md").write_text(
            f"# D{i}\n\n" + " ".join(f"cli{i} corpus word{j}" for j in range(50))
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_ann_cli"))
    eng.ingest_directory(str(d))
    (out,) = _run(eng, "ann-build", "--cells", "2")
    assert out["nCells"] == 2 and out["fresh"] is True
    assert out["annIndexPath"].endswith("_ann")
    assert out["pq"] is False


def test_cli_ann_build_pq(spark, tmp_path):
    """ann-build --pq trains the residual-PQ sidecar; the status block
    reports it and the PQ serving mode comes up against the built index."""
    from mcp_local_rag_spark.operators.ivf_serve import IvfVectorServer

    d = tmp_path / "docs"
    d.mkdir()
    for i in range(3):
        (d / f"d{i}.md").write_text(
            f"# P{i}\n\n" + " ".join(f"pq{i} corpus word{j}" for j in range(60))
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_ann_pq"))
    eng.ingest_directory(str(d))
    (out,) = _run(eng, "ann-build", "--cells", "2", "--pq")
    assert out["pq"] is True and eng.ann_index_status()["pq"] is True
    server = IvfVectorServer(
        eng.ann_index_path, id_col="id", vec_col="vector",
        quantization="pq", payload_cols=("filePath",),
    )
    from mcp_local_rag_spark.embedder import pseudo_embed
    hits = server.query(pseudo_embed("pq0 corpus", 64), 3)
    assert hits and all("filePath" in h for h in hits)


def test_cli_table_verbs(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.merge import create_merge_table, merge_into

    tbl = str(tmp_path / "snap")
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    merge_into(
        spark, tbl,
        spark.createDataFrame(
            [Row(k=1, v=99, is_delete=False), Row(k=2, v=0, is_delete=True)]
        ),
        delete_col="is_delete",
    )
    eng = RagEngine(spark, str(tmp_path / "chunks_unused"))

    (status,) = _run(eng, "table-status", tbl)
    assert status["current_version"] == 2 and status["rows"] == 99

    (hist,) = _run(eng, "table-history", tbl)
    assert [h["rows"] for h in hist["versions"]] == [100, 99]

    (ch,) = _run(eng, "table-changes", tbl, "1", "2")
    kinds = sorted(c["_change_type"] for c in ch["changes"])
    assert kinds == ["delete", "update_postimage", "update_preimage"]

    (comp,) = _run(eng, "table-compact", tbl)
    assert comp["compacted"] and comp["version"] == 3

    # --grace 0: the dirs are seconds old and no writer is in flight
    # (the production default keeps young dirs for in-flight merges)
    (vac,) = _run(eng, "table-vacuum", tbl, "--keep", "1", "--grace", "0")
    assert vac["removedDataDirs"]  # the superseded merge dirs retired

    (status2,) = _run(eng, "table-status", tbl)
    assert status2["rows"] == 99 and not status2["needs_compaction"]


def test_cli_view_verbs(spark, tmp_path):
    """view-create bootstraps a spec-recorded view; a later MERGE on the
    source advances through view-sync with no keys/measures re-supplied;
    view-read returns the maintained rows (sketch measure included)."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.merge import create_merge_table, merge_into

    tbl = str(tmp_path / "src")
    view = str(tmp_path / "view")
    base = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    eng = RagEngine(spark, str(tmp_path / "chunks_unused2"))

    (made,) = _run(
        eng, "view-create", tbl, view,
        "--key", "g",
        "--measure", "cnt:count",
        "--measure", "total:sum:v",
        "--measure", "hist:hist:g",
        "--buckets", "4",
    )
    assert made["cursor"] == 1

    (r0,) = _run(eng, "view-read", view)
    assert {row["g"]: row["cnt"] for row in r0["rows"]} == {
        "0": 20, "1": 20, "2": 20,
    }

    # already current -> no advance
    (s0,) = _run(eng, "view-sync", view)
    assert not s0["advanced"]

    merge_into(
        spark, tbl,
        spark.createDataFrame(
            [Row(k=0, v=1000, g="0", is_delete=False),   # update
             Row(k=1, v=0, g="1", is_delete=True),       # delete
             Row(k=999, v=5, g="2", is_delete=False)],   # insert
        ),
        delete_col="is_delete",
    )
    (s1,) = _run(eng, "view-sync", view)
    assert s1["advanced"] and s1["cursor"] == 2

    (r1,) = _run(eng, "view-read", view)
    got = {row["g"]: (row["cnt"], row["total"]) for row in r1["rows"]}
    exp = {
        "0": (20, sum(i * 2 for i in range(0, 60, 3)) - 0 + 1000),
        "1": (19, sum(i * 2 for i in range(1, 60, 3)) - 2),
        "2": (21, sum(i * 2 for i in range(2, 60, 3)) + 5),
    }
    assert got == exp


def test_cli_table_get(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.merge import create_merge_table

    tbl = str(tmp_path / "ptcli")
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("v")
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    eng = RagEngine(spark, str(tmp_path / "chunks_unused3"))

    (hit,) = _run(eng, "table-get", tbl, "7")
    assert [r["v"] for r in hit["rows"]] == [107]
    (miss,) = _run(eng, "table-get", tbl, "999")
    assert miss["rows"] == []


def test_cli_index_verbs(spark, tmp_path):
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.merge import create_merge_table, merge_into

    tbl = str(tmp_path / "isrc")
    idx = str(tmp_path / "iidx")
    base = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 5).cast("string").alias("tag"),
        F.col("id").alias("v"),
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    eng = RagEngine(spark, str(tmp_path / "chunks_unused4"))

    (made,) = _run(eng, "index-create", tbl, idx, "tag", "--buckets", "4")
    assert made["cursor"] == 1

    (hit,) = _run(eng, "index-lookup", idx, "3")
    assert sorted(r["k"] for r in hit["rows"]) == [3, 8, 13, 18, 23, 28, 33, 38]

    merge_into(
        spark, tbl,
        spark.createDataFrame([Row(k=3, tag="0", v=3, is_delete=False)]),
        delete_col="is_delete",
    )
    (s,) = _run(eng, "index-sync", idx)
    assert s["advanced"]
    (hit2,) = _run(eng, "index-lookup", idx, "3")
    assert 3 not in [r["k"] for r in hit2["rows"]]


def test_cli_table_optimize(spark, tmp_path):
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.merge import (
        create_merge_table,
        read_manifest,
        read_snapshot,
    )

    tbl = str(tmp_path / "optcli")
    base = spark.range(100).select(
        F.col("id").alias("k"), ((F.col("id") * 37) % 100).alias("ts")
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    eng = RagEngine(spark, str(tmp_path / "chunks_unused5"))

    (o,) = _run(eng, "table-optimize", tbl, "ts")
    assert o["version"] == 2 and o["clusteredBy"] == ["ts"]
    assert read_manifest(tbl)["clustered"]["cols"] == ["ts"]
    assert read_snapshot(spark, tbl).count() == 100


def test_cli_view_create_sketch_measures_and_parse_guard(spark, tmp_path):
    """The CLI accepts sketch measures (4-part approx_topk form) and the
    ambiguous 3-part NAME:approx_topk:K form fails with a pointed error
    instead of a missing-column AnalysisException."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.merge import create_merge_table

    tbl = str(tmp_path / "vsrc")
    view = str(tmp_path / "vview")
    base = spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") % 5).cast("string").alias("b"),
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    eng = RagEngine(spark, str(tmp_path / "chunks_unused6"))

    (made,) = _run(
        eng, "view-create", tbl, view,
        "--key", "g",
        "--measure", "cnt:count",
        "--measure", "hot:approx_topk:8:b",
        "--buckets", "4",
    )
    assert made["cursor"] == 1
    (r,) = _run(eng, "view-read", view)
    assert all(len(row["hot"]) == 5 for row in r["rows"])

    with _pytest.raises(ValueError, match="approx_topk needs a column"):
        run(
            ["--table", eng.table_path, "view-create", tbl,
             str(tmp_path / "vbad"), "--key", "g",
             "--measure", "hot:approx_topk:8"],
            eng,
        )


def test_cli_txn_recover_and_ivf_maintain(spark, tmp_path):
    """txn-recover finishes a committed-but-unflipped transaction from
    the CLI; ivf-maintain applies the maintenance loop and reports."""
    import math

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    import mcp_local_rag_spark.plans.txn as txn_mod
    from mcp_local_rag_spark.plans.merge import (
        create_merge_table,
        current_version,
        merge_into,
    )
    from mcp_local_rag_spark.plans.txn import transaction

    tbl = str(tmp_path / "txnsrc")
    log = str(tmp_path / "txnlog")
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    eng = RagEngine(spark, str(tmp_path / "chunks_unused3"))

    # simulate a coordinator that died between record and flip
    real_flip = txn_mod._flip_current
    txn_mod._flip_current = lambda *a: (_ for _ in ()).throw(
        RuntimeError("dead")
    )
    try:
        try:
            with transaction(log):
                merge_into(
                    spark, tbl,
                    spark.createDataFrame(
                        [Row(k=900, v=9, is_delete=False)]
                    ),
                    delete_col="is_delete",
                )
        except RuntimeError:
            pass
    finally:
        txn_mod._flip_current = real_flip
    assert current_version(tbl) == 1

    (rep,) = _run(eng, "txn-recover", log)
    assert len(rep["committed"]) == 1 and rep["aborted"] == []
    assert current_version(tbl) == 2

    # ivf-maintain over a drifted two-blob index
    from mcp_local_rag_spark.plans.ann_index import write_ivf_index

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    rows = [(0, unit(50.0), 0)]
    rows += [(1 + i, unit(0.05 * i), 0) for i in range(9)]
    rows += [(100 + i, unit(50 + 0.05 * (i + 1)), 0) for i in range(9)]
    rows += [(200 + i, unit(120 + 0.05 * i), 1) for i in range(8)]
    idx_df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    idx = str(tmp_path / "cli_ivf")
    write_ivf_index(idx_df, idx, sort_cols=("vec_id",))
    (rep,) = _run(
        eng, "ivf-maintain", idx, "--split-mean-dist", "0.05",
        "--split-fill-ratio", "99", "--seed-col", "vec_id",
    )
    assert rep["planned"] == [0] and "0" in {str(k) for k in rep["split"]}
    assert rep["n_cells"] == 3


def test_cli_ingest_routes_containers(spark, tmp_path, capsys=None):
    """The one ingest verb routes by spelling: record containers
    (.jsonl, .feather, envelope-compressed) go through
    ingest_records_file; tar spellings to shard ingest."""
    import gzip
    import io
    import json as _json

    from mcp_local_rag_spark.cli import run
    from mcp_local_rag_spark.engine import RagEngine

    body = (
        "Container-routed prose long enough to chunk about CLI dispatch. "
        "A second sentence keeps it past the minimum gate.\n"
    )
    f = tmp_path / "corpus.jsonl.gz"
    f.write_bytes(
        gzip.compress(
            _json.dumps({"id": 1, "title": "R1", "text": body}).encode()
        )
    )
    eng = RagEngine(spark, str(tmp_path / "table"))
    out = io.StringIO()
    assert run(["ingest", str(f)], eng, out) == 0
    res = _json.loads(out.getvalue().splitlines()[-1])
    assert res["recordCount"] == 1
    rows = eng.chunks().select("filePath", "fileTitle").collect()
    assert all("#r0" in r.filePath for r in rows)
    assert {r.fileTitle for r in rows} == {"R1"}

    # feather container routes the same way
    import pyarrow as pa
    from pyarrow import feather

    t = pa.table({"id": pa.array([2], pa.int64()), "title": ["R2"],
                  "text": [body]})
    fb = pa.BufferOutputStream()
    feather.write_feather(t, fb)
    f2 = tmp_path / "corpus2.feather"
    f2.write_bytes(fb.getvalue().to_pybytes())
    out2 = io.StringIO()
    assert run(["ingest", str(f2)], eng, out2) == 0
    assert _json.loads(out2.getvalue().splitlines()[-1])["recordCount"] == 1
