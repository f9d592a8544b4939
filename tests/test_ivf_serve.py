"""IVF serving sidecar (operators/ivf_serve.IvfVectorServer): partition-
pruned per-query reads over the plans/ann_index layout, row-identical to
the Spark cosine_knn operator on the same probed cells."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.operators import similarity
from mcp_local_rag_spark.operators.ivf_serve import IvfVectorServer
from mcp_local_rag_spark.plans.ann_index import read_ivf_cells, write_ivf_index
from mcp_local_rag_spark.session import load

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf_srv") / "ann")
    emb = load(spark, SF, "embeddings")
    write_ivf_index(
        emb.withColumn("cell", F.col("label")),
        path,
        sort_cols=("vec_id",),
        meta={"source": "label"},
    )
    return path


def _spark_rows(spark, path, qv, cells, k):
    corpus = read_ivf_cells(spark, path, cells)
    q = spark.createDataFrame([(0, [float(x) for x in qv])],
                              "query_id long, embedding array<double>")
    rows = similarity.cosine_knn(q, corpus, k=k, exclude_self=False).collect()
    rows.sort(key=lambda r: (-round(r.cos, 6), r.neighbor_id))
    return [(r.neighbor_id, round(r.cos, 6)) for r in rows]


def test_parity_with_spark_operator_on_probed_cells(spark, index):
    emb = load(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(3, 17, 42)).collect()
    server = IvfVectorServer(index)
    for r in queries:
        cells = server.probe_cells(r.embedding, nprobe=2)
        got = [(h["neighbor_id"], round(h["cos"], 6))
               for h in server.query(r.embedding, 8, cells=cells)]
        want = _spark_rows(spark, index, r.embedding, cells, 8)
        assert got == want, (r.vec_id, cells)


def test_probe_reads_only_probed_cell_directories(spark, index):
    server = IvfVectorServer(index)
    emb_row = load(spark, SF, "embeddings").filter(F.col("vec_id") == 5).first()
    cells = server.probe_cells(emb_row.embedding, nprobe=2)
    frags = server.probed_fragment_paths(cells)
    assert frags, "probed fragments resolve"
    # every touched file sits under a probed cell directory — the
    # partition-pruning evidence; unprobed cells' files never appear
    for p in frags:
        assert any(f"cell={c}/" in p for c in cells), p
    all_cells = {int(c) for c in server._cent_cells}
    assert len(all_cells) > len(cells)  # there ARE unprobed cells to skip


def test_cell_cache_turns_repeat_traffic_memory_only(spark, index):
    server = IvfVectorServer(index)
    emb_row = load(spark, SF, "embeddings").filter(F.col("vec_id") == 9).first()
    server.query(emb_row.embedding, 5, nprobe=2)
    loads_after_first = server.cell_loads
    t0 = time.time()
    for _ in range(20):
        server.query(emb_row.embedding, 5, nprobe=2)
    warm_ms = (time.time() - t0) * 1000 / 20
    assert server.cell_loads == loads_after_first  # no re-reads
    assert warm_ms < 50  # in-memory scoring, generous CI bound
    # LRU bound: flooding with every cell never exceeds the cap
    server.max_cached_cells = 2
    for c in sorted({int(x) for x in server._cent_cells}):
        server.query(emb_row.embedding, 3, cells=[c])
    assert len(server._cells) <= 2


def test_exclude_id_and_empty_cells(spark, index):
    server = IvfVectorServer(index)
    emb_row = load(spark, SF, "embeddings").filter(F.col("vec_id") == 11).first()
    hits = server.query(emb_row.embedding, 5, nprobe=1)
    assert any(h["neighbor_id"] == 11 for h in hits)  # self is its own NN
    hits2 = server.query(emb_row.embedding, 5, nprobe=1, exclude_id=11)
    assert all(h["neighbor_id"] != 11 for h in hits2)
    # a cell id that exists nowhere yields no rows, not a crash
    assert server.query(emb_row.embedding, 5, cells=[10_000]) == []


def test_incremental_append_matches_full_rebuild(spark, tmp_path):
    """append_to_ivf_index: cell contents equal a full rebuild; the merged
    centroid sidecar equals the union's means to float tolerance; the
    serving sidecar observes the append after invalidate()."""
    import numpy as np

    from mcp_local_rag_spark.plans.ann_index import append_to_ivf_index
    from mcp_local_rag_spark.operators.ivf_serve import IvfVectorServer

    emb = load(spark, SF, "embeddings")
    base = emb.filter(F.col("vec_id") % 4 != 0).withColumn("cell", F.col("label"))
    batch = emb.filter(F.col("vec_id") % 4 == 0).withColumn("cell", F.col("label"))

    inc_path = str(tmp_path / "ann_inc")
    write_ivf_index(base, inc_path, sort_cols=("vec_id",))
    server = IvfVectorServer(inc_path)
    qrow = emb.filter(F.col("vec_id") == 8).first()  # vec 8 is IN the batch
    own = [int(qrow.label)]  # probe vec 8's own cell explicitly
    before_ids = {
        h["neighbor_id"] for h in server.query(qrow.embedding, 10, cells=own)
    }
    assert 8 not in before_ids

    append_to_ivf_index(batch, inc_path, sort_cols=("vec_id",))
    server.invalidate()
    after = server.query(qrow.embedding, 10, cells=own)
    assert after[0]["neighbor_id"] == 8  # self is its own NN (cos 1.0)

    # full-rebuild twin: identical row sets per cell, centroids within fp tol
    full_path = str(tmp_path / "ann_full")
    write_ivf_index(
        emb.withColumn("cell", F.col("label")), full_path, sort_cols=("vec_id",)
    )
    inc_rows = {
        (r.vec_id, r.cell)
        for r in read_ivf_cells(spark, inc_path).select("vec_id", "cell").collect()
    }
    full_rows = {
        (r.vec_id, r.cell)
        for r in read_ivf_cells(spark, full_path).select("vec_id", "cell").collect()
    }
    assert inc_rows == full_rows
    s_inc, s_full = IvfVectorServer(inc_path), IvfVectorServer(full_path)
    assert np.allclose(s_inc._cent_mat, s_full._cent_mat, rtol=1e-9, atol=1e-9)
    assert (s_inc._cent_cells == s_full._cent_cells).all()
    # and identical answers over the merged index
    got = s_inc.query(qrow.embedding, 10, nprobe=2)
    want = s_full.query(qrow.embedding, 10, nprobe=2)
    assert [(h["neighbor_id"], h["cos"]) for h in got] == [
        (h["neighbor_id"], h["cos"]) for h in want
    ]


def test_cell_compaction_moves_bytes_not_rows(spark, tmp_path):
    """compact_ivf_cells: appended cells collapse to one file each,
    untouched cells keep their files, rows and serving answers are
    byte-for-byte unaffected."""
    import glob
    import os

    from mcp_local_rag_spark.plans.ann_index import (
        append_to_ivf_index,
        compact_ivf_cells,
    )

    emb = load(spark, SF, "embeddings")
    path = str(tmp_path / "ann_cmp")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 0).withColumn("cell", F.col("label")),
        path, sort_cols=("vec_id",),
    )
    append_to_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 1).withColumn("cell", F.col("label")),
        path, sort_cols=("vec_id",),
    )
    before = {
        (r.vec_id, r.cell)
        for r in read_ivf_cells(spark, path).select("vec_id", "cell").collect()
    }
    frag_cells = [
        d for d in glob.glob(os.path.join(path, "cell=*"))
        if len(glob.glob(os.path.join(d, "*.parquet"))) >= 2
    ]
    assert frag_cells, "appends fragmented at least one cell"
    n = compact_ivf_cells(spark, path, sort_cols=("vec_id",))
    assert n == len(frag_cells)
    for d in glob.glob(os.path.join(path, "cell=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1
    after = {
        (r.vec_id, r.cell)
        for r in read_ivf_cells(spark, path).select("vec_id", "cell").collect()
    }
    assert after == before
    # second pass: nothing to do
    assert compact_ivf_cells(spark, path) == 0


def test_quantized_cells_memory_and_recall(spark, index):
    """quantized=True: resident cell cache shrinks ~8x (int8 vs float64)
    while recall@10 vs the exact server stays >= 0.95 over a query
    sample, and the result contract (rounded cos, id ties) holds."""
    exact = IvfVectorServer(index)
    quant = IvfVectorServer(index, quantized=True)
    emb = load(spark, SF, "embeddings")
    qrows = emb.filter(F.col("vec_id") < 30).collect()
    hits = total = 0
    for r in qrows:
        cells = exact.probe_cells(r.embedding, nprobe=2)
        want = {h["neighbor_id"] for h in exact.query(r.embedding, 10, cells=cells)}
        got = {h["neighbor_id"] for h in quant.query(r.embedding, 10, cells=cells)}
        hits += len(want & got)
        total += len(want)
    assert total > 0 and hits / total >= 0.95, hits / total
    # same cells resident on both servers -> ~8x memory ratio
    ratio = exact.cached_bytes() / max(1, quant.cached_bytes())
    assert ratio > 6.0, ratio


def test_chunks_corpus_ivf_lane(spark, tmp_path):
    """build_chunks_ivf + payload serving over a REAL engine corpus: the
    approximate lane returns (filePath, chunkIndex)-addressed hits whose
    recall vs the exact full-matrix server is high, reading only probed
    cells."""
    from mcp_local_rag_spark.engine import RagEngine
    from mcp_local_rag_spark.embedder import pseudo_embed
    from mcp_local_rag_spark.operators.ivf_serve import IvfVectorServer
    from mcp_local_rag_spark.operators.vector_serve import VectorSearchServer
    from mcp_local_rag_spark.plans.ann_index import build_chunks_ivf

    d = tmp_path / "docs"
    d.mkdir()
    for i in range(12):
        (d / f"doc{i}.md").write_text(
            f"# Doc {i}\n\n" + " ".join(
                f"topic{i} word{j} term{(i * 7 + j) % 23}" for j in range(60)
            )
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_ivf"), db_path=str(tmp_path / "db"))
    eng.ingest_directory(str(d))

    idx = str(tmp_path / "ann_chunks")
    n_cells = build_chunks_ivf(spark, eng.table_path, idx, n_cells=4)
    assert n_cells == 4
    server = IvfVectorServer(
        idx, id_col="id", vec_col="vector",
        payload_cols=("filePath", "chunkIndex"),
    )
    exact = VectorSearchServer(eng.table_path)
    _, dim = __import__(
        "mcp_local_rag_spark.plans.ingest", fromlist=["table_embedding"]
    ).table_embedding(eng.table_path)
    hits = total = 0
    for q in ("topic3 word5", "topic7 term2", "doc nine content", "word40 term11"):
        qv = pseudo_embed(q, dim)
        approx = server.query(qv, 5, nprobe=2)
        assert approx and all(
            "filePath" in h and "chunkIndex" in h for h in approx
        )
        got = {(h["filePath"], h["chunkIndex"]) for h in approx}
        want = {(h["filePath"], h["chunkIndex"]) for h in exact.query(qv, 5)}
        hits += len(got & want)
        total += len(want)
    assert hits / total >= 0.5, (hits, total)  # 2/4 cells probed
    # full-probe == exact (the approximation is ONLY the probe set)
    qv = pseudo_embed("topic3 word5", dim)
    all_cells = sorted(int(c) for c in server._cent_cells)
    full = [(h["filePath"], h["chunkIndex"]) for h in server.query(qv, 5, cells=all_cells)]
    exact_rows = [(h["filePath"], h["chunkIndex"]) for h in exact.query(qv, 5)]
    assert full == exact_rows


def test_engine_ann_lane_freshness_handshake(spark, tmp_path):
    """engine.build_ann_index stamps the covered table version; a
    mutation invalidates freshness until the next build."""
    from mcp_local_rag_spark.engine import RagEngine

    d = tmp_path / "docs"
    d.mkdir()
    for i in range(4):
        (d / f"doc{i}.md").write_text(
            f"# Doc {i}\n\n" + " ".join(
                f"substantial{i} corpus word{j} content" for j in range(50)
            )
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_h"), db_path=str(tmp_path / "db"))
    eng.ingest_directory(str(d))
    assert not eng.ann_index_is_fresh()
    n = eng.build_ann_index(n_cells=2)
    assert n == 2 and eng.ann_index_is_fresh()
    eng.ingest_data(
        "A new raw note with plenty of durable content to chunk, long "
        "enough to clear the minimum chunk length comfortably this time.",
        "note://x",
    )
    assert not eng.ann_index_is_fresh()  # table version moved
    eng.build_ann_index(n_cells=2)
    assert eng.ann_index_is_fresh()
    server = IvfVectorServer(
        eng.ann_index_path, id_col="id", vec_col="vector",
        payload_cols=("filePath", "chunkIndex"),
    )
    from mcp_local_rag_spark.embedder import pseudo_embed
    hits = server.query(pseudo_embed("raw note content", 64), 3,
                        cells=sorted(int(c) for c in server._cent_cells))
    assert any("raw-data" in h["filePath"] for h in hits)


def test_status_reports_ann_index_coverage(spark, tmp_path):
    """The status tool's annIndex extension block: a RESTARTED server
    (fresh RagRpcServer over the same paths) reports built/fresh/nCells
    from the persisted covered-version handshake alone — no Spark job,
    no rebuild; a table mutation flips fresh to False."""
    from mcp_local_rag_spark.engine import RagEngine
    from mcp_local_rag_spark.server import RagRpcServer

    d = tmp_path / "docs"
    d.mkdir()
    for i in range(4):
        (d / f"doc{i}.md").write_text(
            f"# Doc {i}\n\n" + " ".join(
                f"substantial{i} corpus word{j} content" for j in range(50)
            )
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_s"), db_path=str(tmp_path / "dbs"))
    eng.ingest_directory(str(d))

    st = RagRpcServer(eng).call_tool("status", {})["annIndex"]
    assert st == {"built": False, "fresh": False, "nCells": None,
                  "pq": False, "path": eng.ann_index_path}

    eng.build_ann_index(n_cells=2)
    # a NEW server over a NEW engine instance = the restart scenario
    eng2 = RagEngine(spark, str(tmp_path / "chunks_s"), db_path=str(tmp_path / "dbs"))
    st = RagRpcServer(eng2).call_tool("status", {})["annIndex"]
    assert st["built"] is True and st["fresh"] is True and st["nCells"] == 2

    eng2.ingest_data(
        "A new raw note with plenty of durable content to chunk, long "
        "enough to clear the minimum chunk length comfortably this time.",
        "note://y",
    )
    st = RagRpcServer(eng2).call_tool("status", {})["annIndex"]
    assert st["built"] is True and st["fresh"] is False


# ---------------------------------------------------------------------------
# Round-11 IVF maintenance: drift stats + selective cell split.


def _two_blob_index(spark, tmp_path, sep=10.0):
    """32 vectors: two well-separated blobs FORCED into one cell (0),
    plus a healthy cell (1) — the drifted-index shape."""
    from mcp_local_rag_spark.plans.ann_index import write_ivf_index

    rows = []
    for i in range(16):  # blob A around (0, 0, 1)
        rows.append((i, [0.01 * i, 0.0, 1.0], 0))
    for i in range(16, 32):  # blob B around (sep, 0, 1)
        rows.append((i, [sep + 0.01 * i, 0.0, 1.0], 0))
    for i in range(100, 108):  # healthy tight cell
        rows.append((i, [0.0, 5.0, 0.001 * i], 1))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    path = str(tmp_path / "drift_idx")
    write_ivf_index(df, path, sort_cols=("vec_id",))
    return path


def test_ivf_cell_stats_flags_drifted_cell(spark, tmp_path):
    from mcp_local_rag_spark.plans.ann_index import (
        ivf_cell_stats,
        ivf_maintenance_plan,
    )

    path = _two_blob_index(spark, tmp_path)
    stats = {r["cell"]: r for r in ivf_cell_stats(spark, path).collect()}
    assert stats[0]["n"] == 32 and stats[1]["n"] == 8
    # the two-blob cell's quantization error dwarfs the tight cell's
    assert stats[0]["mean_dist"] > 10 * stats[1]["mean_dist"]
    assert stats[0]["fill_ratio"] > stats[1]["fill_ratio"]
    plan = ivf_maintenance_plan(
        list(stats.values()), split_fill_ratio=1.5
    )
    assert plan == [0]
    assert ivf_maintenance_plan(
        list(stats.values()), split_fill_ratio=99, split_mean_dist=1.0
    ) == [0]


def test_split_ivf_cell_separates_blobs_and_updates_sidecar(spark, tmp_path):
    import os

    import pyarrow.parquet as pq

    from mcp_local_rag_spark.plans.ann_index import (
        CENTROIDS_FILE,
        ivf_cell_stats,
        read_ivf_cells,
        split_ivf_cell,
    )

    path = _two_blob_index(spark, tmp_path)
    new_ids = split_ivf_cell(spark, path, 0, k=2, seed_col="vec_id")
    assert new_ids == [2, 3]
    assert not os.path.isdir(os.path.join(path, "cell=0"))
    # no rows lost, and each blob landed wholly in one subcell
    all_rows = read_ivf_cells(spark, path).collect()
    assert len(all_rows) == 40
    by_cell: dict[int, set] = {}
    for r in all_rows:
        by_cell.setdefault(r["cell"], set()).add(r["vec_id"])
    assert by_cell[1] == set(range(100, 108))  # untouched cell intact
    blobs = sorted(
        [by_cell[new_ids[0]], by_cell[new_ids[1]]], key=lambda s: min(s)
    )
    assert blobs[0] == set(range(16)) and blobs[1] == set(range(16, 32))
    # sidecar: old cell gone, new cells carry true counts + tight means
    cents = {
        int(r["cell"]): r
        for r in pq.read_table(os.path.join(path, CENTROIDS_FILE)).to_pylist()
    }
    assert 0 not in cents and set(new_ids) <= set(cents)
    assert cents[new_ids[0]]["n"] == 16 and cents[new_ids[1]]["n"] == 16
    # post-split quantization error collapses
    stats = {r["cell"]: r for r in ivf_cell_stats(spark, path).collect()}
    assert all(stats[i]["mean_dist"] < 0.2 for i in new_ids)
    # a crashed-then-retried split is safe: re-running on the gone cell
    # fails loudly instead of corrupting
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no cell 0"):
        split_ivf_cell(spark, path, 0, k=2)


def test_split_ivf_cell_empty_cluster_degrades_cleanly(spark, tmp_path):
    """A cell of IDENTICAL vectors under k=2: one Lloyd cluster ends up
    empty, so the dynamic overwrite creates fewer than k dirs — the
    split degrades to fewer subcells, the sidecar references only dirs
    that exist, and no row is lost."""
    import os

    import pyarrow.parquet as pq

    from mcp_local_rag_spark.plans.ann_index import (
        CENTROIDS_FILE,
        read_ivf_cells,
        split_ivf_cell,
        write_ivf_index,
    )

    rows = [(i, [1.0, 2.0, 3.0], 0) for i in range(8)]
    rows += [(100 + i, [0.0, 5.0, 1.0], 1) for i in range(4)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    path = str(tmp_path / "dup_idx")
    write_ivf_index(df, path, sort_cols=("vec_id",))
    new_ids = split_ivf_cell(spark, path, 0, k=2, seed_col="vec_id")
    assert len(new_ids) == 1  # the empty cluster was dropped, not kept
    assert read_ivf_cells(spark, path).count() == 12
    cents = {
        int(r["cell"]): r
        for r in pq.read_table(os.path.join(path, CENTROIDS_FILE)).to_pylist()
    }
    assert set(cents) == {1, new_ids[0]}
    assert cents[new_ids[0]]["n"] == 8
    # every sidecar cell has a real directory (no dangling references)
    for c in cents:
        assert os.path.isdir(os.path.join(path, f"cell={c}")), c
    assert not os.path.exists(os.path.join(path, "._split_0.json"))


def test_split_ivf_cell_crash_before_commit_rolls_back(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the new-dir write but BEFORE the sidecar commit:
    recovery removes the partial new dirs, the old dir and sidecar are
    intact, and a re-run completes normally."""
    import os

    import pyarrow.parquet as pq

    import mcp_local_rag_spark.plans.ann_index as ai

    path = _two_blob_index(spark, tmp_path)
    real_write = ai._write_centroids

    def boom(cents, p):
        raise RuntimeError("injected crash before commit")

    monkeypatch.setattr(ai, "_write_centroids", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ai.split_ivf_cell(spark, path, 0, k=2, seed_col="vec_id")
    monkeypatch.setattr(ai, "_write_centroids", real_write)
    # partial state on disk: old dir intact, marker + new dirs present
    assert os.path.isdir(os.path.join(path, "cell=0"))
    assert os.path.exists(os.path.join(path, "._split_0.json"))
    assert ai.recover_ivf_splits(path) == [0]
    assert not os.path.exists(os.path.join(path, "._split_0.json"))
    spark.catalog.refreshByPath(path)
    assert ai.read_ivf_cells(spark, path).count() == 40  # no dup rows
    cents = pq.read_table(os.path.join(path, ai.CENTROIDS_FILE)).to_pylist()
    assert 0 in {int(r["cell"]) for r in cents}  # sidecar untouched
    # the retried split (which itself runs recovery on entry) succeeds
    new_ids = ai.split_ivf_cell(spark, path, 0, k=2, seed_col="vec_id")
    assert new_ids == [2, 3]
    assert ai.read_ivf_cells(spark, path).count() == 40


def test_ivf_maintain_restores_recall_after_skewed_append(spark, tmp_path):
    """The full policy loop (round-12): skewed appends assign a NEW
    vector region to a frozen centroid, so nprobe=1 queries near that
    region probe the wrong cell and recall@10 collapses; one
    ivf_maintain() call detects the drifted cell (mean quantization
    error), splits it worst-first, and recall returns to >= 0.95 —
    without touching the healthy cells."""
    import math

    import numpy as np

    from mcp_local_rag_spark.operators.ivf_serve import IvfVectorServer
    from mcp_local_rag_spark.plans.ann_index import (
        append_to_ivf_index,
        ivf_maintain,
        write_ivf_index,
    )

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    # base corpus: blob A at ~0 deg (cell 0), blob B at ~90 deg (cell 1)
    rows = [(1 + i, unit(0.05 * i), 0) for i in range(60)]
    rows += [(200 + i, unit(90 + 0.05 * i), 1) for i in range(60)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    path = str(tmp_path / "drift_maint")
    write_ivf_index(df, path, sort_cols=("vec_id",))

    # skewed append: blob C at ~40 deg — nearest FROZEN centroid is cell
    # 0 (cos 40 > cos 50), so all of C lands there and cell 0's centroid
    # drifts to ~5 deg. vec_id 0 is a C row so a later split's
    # deterministic seeds span both blobs.
    c_rows = [(0, unit(40.0), 0)]
    c_rows += [(1000 + i, unit(40 + 0.05 * (i + 1)), 0) for i in range(9)]
    batch = spark.createDataFrame(
        c_rows, "vec_id long, embedding array<double>, cell int"
    )
    append_to_ivf_index(batch, path, sort_cols=("vec_id",))

    c_ids = {r[0] for r in c_rows}
    all_vecs = {r[0]: np.asarray(r[1]) for r in rows + c_rows}

    def recall_at_10(server, qdeg):
        q = np.asarray(unit(qdeg))
        true = sorted(
            all_vecs,
            key=lambda i: -float(
                q @ all_vecs[i] / np.linalg.norm(all_vecs[i])
            ),
        )[:10]
        got = {h["neighbor_id"] for h in server.query(list(q), 10, nprobe=1)}
        return len(got & set(true)) / 10.0

    # queries at 50-52 deg: true top-10 is exactly blob C, but the
    # drifted centroid 0 (~6.8 deg) loses the probe to centroid 1 (~91.5)
    before = [recall_at_10(IvfVectorServer(path), d) for d in (50.0, 51.0, 52.0)]
    assert max(before) == 0.0, before  # recall collapsed

    report = ivf_maintain(
        spark, path, split_fill_ratio=99.0, split_mean_dist=0.1,
        seed_col="vec_id",
    )
    assert report["planned"] == [0] and 0 in report["split"]
    assert len(report["split"][0]) == 2 and report["deferred"] == []
    assert report["n_cells"] == 3  # A-sub + C-sub + untouched B

    server = IvfVectorServer(path)
    after = [recall_at_10(server, d) for d in (50.0, 51.0, 52.0)]
    assert min(after) >= 0.95, after
    # blob C now lives wholly in one subcell
    by_cell = {}
    for r in read_ivf_cells(spark, path).select("vec_id", "cell").collect():
        by_cell.setdefault(r["cell"], set()).add(r["vec_id"])
    assert any(v == c_ids for v in by_cell.values())
    # budget honored: a rerun with nothing drifted is a no-op
    report2 = ivf_maintain(
        spark, path, split_fill_ratio=99.0, split_mean_dist=0.1,
        seed_col="vec_id",
    )
    assert report2["planned"] == [] and report2["split"] == {}


def test_ivf_maintain_budget_defers_worst_last(spark, tmp_path):
    """max_splits bounds a maintenance window and the plan is ordered
    worst-first: with two drifted cells and budget 1, only the sicker
    cell splits; the other is reported deferred."""
    import math

    from mcp_local_rag_spark.plans.ann_index import (
        ivf_maintain,
        write_ivf_index,
    )

    def unit(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0]

    # cell 0: two blobs 50 deg apart (sicker); cell 1: two blobs 20 deg
    # apart (sick); cell 2: tight (healthy)
    rows = [(i, unit(0.05 * i), 0) for i in range(1, 10)]
    rows += [(0, unit(50.0), 0)] + [(100 + i, unit(50 + 0.05 * i), 0) for i in range(1, 10)]
    rows += [(200 + i, unit(120 + 0.05 * i), 1) for i in range(10)]
    rows += [(250, unit(140.0), 1)] + [(300 + i, unit(140 + 0.05 * i), 1) for i in range(1, 10)]
    rows += [(400 + i, unit(250 + 0.05 * i), 2) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    path = str(tmp_path / "budget_maint")
    write_ivf_index(df, path, sort_cols=("vec_id",))
    report = ivf_maintain(
        spark, path, split_fill_ratio=99.0, split_mean_dist=0.05,
        max_splits=1, seed_col="vec_id",
    )
    assert report["planned"] == [0, 1]
    assert list(report["split"]) == [0]  # the 50-deg spread is sicker
    assert report["deferred"] == [1]


def test_split_ivf_cell_crash_after_commit_rolls_forward(
    spark, tmp_path, monkeypatch
):
    """Crash AFTER the sidecar commit but BEFORE the old dir removal:
    the lingering old dir (duplicate rows) is rolled FORWARD by
    recovery — removed, never re-admitted — and the sidecar already
    points at the new cells."""
    import os
    import shutil

    import pyarrow.parquet as pq

    import mcp_local_rag_spark.plans.ann_index as ai

    path = _two_blob_index(spark, tmp_path)
    real_rmtree = shutil.rmtree

    def boom(p, **kw):
        raise RuntimeError("injected crash after commit")

    monkeypatch.setattr(shutil, "rmtree", boom)
    with pytest.raises(RuntimeError, match="injected"):
        ai.split_ivf_cell(spark, path, 0, k=2, seed_col="vec_id")
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    # partial state: sidecar committed (old cell gone), old dir lingers
    cents = {
        int(r["cell"])
        for r in pq.read_table(
            os.path.join(path, ai.CENTROIDS_FILE)
        ).to_pylist()
    }
    assert 0 not in cents and {2, 3} <= cents
    assert os.path.isdir(os.path.join(path, "cell=0"))
    assert ai.recover_ivf_splits(path) == [0]
    assert not os.path.isdir(os.path.join(path, "cell=0"))
    spark.catalog.refreshByPath(path)
    assert ai.read_ivf_cells(spark, path).count() == 40  # dups reclaimed
    stats = {r["cell"]: r for r in ai.ivf_cell_stats(spark, path).collect()}
    assert set(stats) == {1, 2, 3}


def test_ivf_maintain_unsplittable_cell_converges(spark, tmp_path):
    """A duplicate-heavy overfull cell cannot be split (Lloyd collapses
    to one subcell): ivf_maintain records it UNSPLITTABLE with a
    persisted no-split hint, the next pass skips it (no rewrite loop),
    and the hint expires once the cell's population changes materially."""
    from mcp_local_rag_spark.plans.ann_index import (
        append_to_ivf_index,
        ivf_maintain,
        read_index_meta,
        write_ivf_index,
    )

    rows = [(i, [1.0, 2.0, 3.0], 0) for i in range(8)]  # duplicates
    rows += [(100 + i, [0.0, 5.0 + 0.001 * i, 1.0], 1) for i in range(4)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, cell int"
    )
    path = str(tmp_path / "nosplit_idx")
    write_ivf_index(df, path, sort_cols=("vec_id",))

    r1 = ivf_maintain(
        spark, path, split_fill_ratio=1.2, seed_col="vec_id"
    )
    assert r1["planned"] == [0] and r1["split"] == {}
    assert list(r1["unsplittable"]) == [0]
    renamed = r1["unsplittable"][0]
    assert read_index_meta(path)["no_split"] == {str(renamed): 8}

    # second pass: the hinted cell is SKIPPED — no rewrite loop
    r2 = ivf_maintain(
        spark, path, split_fill_ratio=1.2, seed_col="vec_id"
    )
    assert r2["planned"] == [] and r2["skipped_no_split"] == [renamed]
    assert r2["split"] == {} and r2["unsplittable"] == {}

    # population changes materially -> hint expires, cell re-planned
    more = spark.createDataFrame(
        [(50 + i, [1.0, 2.0, 3.0], renamed) for i in range(4)],
        "vec_id long, embedding array<double>, cell int",
    )
    append_to_ivf_index(more, path, sort_cols=("vec_id",))
    r3 = ivf_maintain(
        spark, path, split_fill_ratio=1.2, seed_col="vec_id"
    )
    assert renamed in r3["planned"]
    assert r3["skipped_no_split"] == []
    # still duplicates: degenerates again, and the FRESH hint lands
    assert list(r3["unsplittable"]) == [renamed]
    new_renamed = r3["unsplittable"][renamed]
    assert read_index_meta(path)["no_split"] == {str(new_renamed): 12}


def test_maintenance_lock_blocks_concurrent_recovery(spark, tmp_path):
    """Mutual exclusion across maintenance verbs (r12 ADVICE): a second
    maintenance pass (or stats probe) overlapping a LIVE split must not
    see the in-flight marker and "recover" it — that would rmtree the
    half-written subcell dirs and the live split would commit a sidecar
    missing those rows. Every verb takes the per-index flock, so the
    overlapping recover_ivf_splits queues until the holder releases, by
    which point the marker is gone."""
    import json
    import os
    import threading

    import mcp_local_rag_spark.plans.ann_index as ai

    path = _two_blob_index(spark, tmp_path)
    order = []
    entered = threading.Event()
    results = {}

    def live_split_holder():
        with ai._maintenance_lock(path):
            with open(ai._split_marker_path(path, 0), "w") as f:
                json.dump({"cell": 0, "new_ids": [98, 99]}, f)
            entered.set()
            time.sleep(0.6)  # the overlapping pass must wait this out
            os.remove(ai._split_marker_path(path, 0))
            order.append("holder_done")

    def overlapping_recovery():
        entered.wait()
        results["resolved"] = ai.recover_ivf_splits(path)
        order.append("recovery_done")

    t1 = threading.Thread(target=live_split_holder)
    t2 = threading.Thread(target=overlapping_recovery)
    t1.start()
    t2.start()
    t1.join()
    t2.join()
    assert order == ["holder_done", "recovery_done"]
    assert results["resolved"] == []  # the live marker was never stolen
    assert read_ivf_cells(spark, path).count() == 40  # nothing rmtree'd


def test_split_aborts_if_marker_vanishes_before_commit(
    spark, tmp_path, monkeypatch
):
    """Belt-and-braces under the flock: if something bypassed the lock
    and resolved our marker mid-split, the sidecar commit must not
    publish cells whose dirs a recovery already removed."""
    import os

    import mcp_local_rag_spark.plans.ann_index as ai

    import pandas as pd

    path = _two_blob_index(spark, tmp_path)
    real_concat = pd.concat

    def steal_then_concat(*a, **kw):
        # runs while the split assembles the new sidecar rows — just
        # before the pre-commit marker check
        marker = ai._split_marker_path(path, 0)
        if os.path.exists(marker):
            os.remove(marker)  # a lock-bypassing rogue recovery
        return real_concat(*a, **kw)

    monkeypatch.setattr(pd, "concat", steal_then_concat)
    with pytest.raises(RuntimeError, match="marker .* vanished"):
        ai.split_ivf_cell(spark, path, 0, k=2, seed_col="vec_id")
    monkeypatch.undo()
    # sidecar untouched: cell 0 still present, no phantom subcells
    import pyarrow.parquet as pq

    cents = pq.read_table(os.path.join(path, ai.CENTROIDS_FILE)).to_pylist()
    assert {int(r["cell"]) for r in cents} == {0, 1}


def test_ivf_serving_staleness_contract(spark, tmp_path):
    """operators/staleness on the chunks-backed IVF lane: once the table
    moves past the index's covers-stamp, queries raise StaleServingError;
    a rebuild restores the strict path. Indexes without chunks provenance
    (built straight from embeddings) carry no proof and keep serving."""
    from mcp_local_rag_spark.embedder import pseudo_embed
    from mcp_local_rag_spark.engine import RagEngine
    from mcp_local_rag_spark.operators.staleness import StaleServingError

    d = tmp_path / "docs"
    d.mkdir()
    for i in range(4):
        (d / f"doc{i}.md").write_text(
            f"# Doc {i}\n\n" + " ".join(
                f"substantial{i} corpus word{j} content" for j in range(50)
            )
        )
    eng = RagEngine(spark, str(tmp_path / "chunks_sc"), db_path=str(tmp_path / "db"))
    eng.ingest_directory(str(d))
    eng.build_ann_index(n_cells=2)
    srv = IvfVectorServer(
        eng.ann_index_path, id_col="id", vec_col="vector",
        payload_cols=("filePath", "chunkIndex"),
    )
    qv = pseudo_embed("substantial corpus content", 64)
    assert srv.query(qv, 3, nprobe=2)

    eng.ingest_data(
        "A new raw note with plenty of durable content to chunk, long "
        "enough to clear the minimum chunk length comfortably this time.",
        "note://y",
    )
    assert not eng.ann_index_is_fresh()
    with pytest.raises(StaleServingError, match="stale"):
        srv.query(qv, 3, nprobe=2)

    eng.build_ann_index(n_cells=2)
    srv.invalidate()
    assert srv.query(qv, 3, nprobe=2)  # strict path restored


def test_ivf_index_without_provenance_serves_unchecked(
    spark, index, monkeypatch
):
    """The module fixture index is built from embeddings (meta source
    'label'): no chunks provenance, no covers proof — nothing can prove
    staleness, so it serves without running the covers check."""
    import numpy as np

    from mcp_local_rag_spark.embedder import pseudo_embed
    from mcp_local_rag_spark.operators import staleness

    def no_check(*args):
        raise AssertionError("covers check ran on a provenance-free index")

    monkeypatch.setattr(staleness, "check_covers", no_check)
    srv = IvfVectorServer(index)
    qv = list(np.asarray(pseudo_embed("anything", 64), dtype=float))
    assert srv.query(qv, 3, nprobe=2)


def test_ivf_maintain_races_live_appender_and_converges(spark, tmp_path):
    """ivf_maintain from cron while an appender lands batches (round 13):
    the per-index maintenance flock serializes the append with any split
    of its target cell, so no interleaving loses rows; the quiesced index
    holds every vector and no split marker survives."""
    import glob
    import os
    import threading

    from mcp_local_rag_spark.plans.ann_index import (
        append_to_ivf_index,
        ivf_maintain,
    )

    emb = load(spark, SF, "embeddings")
    path = str(tmp_path / "ivf_traffic")
    write_ivf_index(
        emb.filter(F.col("vec_id") % 3 == 0).withColumn("cell", F.col("label")),
        path, sort_cols=("vec_id",),
    )
    errors: list = []

    def appender():
        try:
            for r in (1, 2):
                append_to_ivf_index(
                    emb.filter(F.col("vec_id") % 3 == r).withColumn(
                        "cell", F.col("label")
                    ),
                    path, sort_cols=("vec_id",),
                )
        except BaseException as e:  # noqa: BLE001
            errors.append(f"appender: {e!r}")

    def maintainer():
        try:
            for _ in range(3):
                ivf_maintain(
                    spark, path, split_fill_ratio=2.0, max_splits=2,
                    seed_col="vec_id",
                )
        except BaseException as e:  # noqa: BLE001
            errors.append(f"maintainer: {e!r}")

    ta = threading.Thread(target=appender)
    tm = threading.Thread(target=maintainer)
    ta.start()
    tm.start()
    ta.join()
    tm.join()
    assert errors == []
    ivf_maintain(spark, path, split_fill_ratio=2.0, max_splits=2,
                 seed_col="vec_id")
    spark.catalog.refreshByPath(path)
    assert read_ivf_cells(spark, path).count() == emb.count()  # no lost rows
    assert not glob.glob(os.path.join(path, "._split_*.json"))
    # every surviving cell dir is registered in the sidecar (probe-reachable)
    import pyarrow.parquet as pq

    from mcp_local_rag_spark.plans.ann_index import CENTROIDS_FILE

    sidecar = {
        int(r["cell"])
        for r in pq.read_table(os.path.join(path, CENTROIDS_FILE)).to_pylist()
    }
    on_disk = {
        int(os.path.basename(d).split("=", 1)[1])
        for d in glob.glob(os.path.join(path, "cell=*"))
    }
    assert on_disk <= sidecar, on_disk - sidecar
