"""Engine-tier crash recovery (plans/engine_txn): the chunks table, FTS
postings, and ANN sidecar advance through separate commit protocols, so a
crash between the row mutation and the index syncs used to leave the
indexes guarded-but-stale with manual repair. The intent sidecar makes
recovery automatic AND bounded: a restarted engine re-syncs exactly the
recorded paths (recover_indexes), falling back to the full rebuild only
when the version chain cannot prove the intent complete (foreign writer,
crash inside the postings rewrite window)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.engine import RagEngine
from mcp_local_rag_spark.plans.engine_txn import (
    _intent_path,
    chain_reaches,
    clear_ann_intent,
    clear_fts_intent,
    publish_intent,
    read_intent,
    record_derived_version,
)


@pytest.fixture()
def docs_dir(tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.md").write_text(
        "# Alpha\n\nSpark shuffles data between executors during wide stages."
    )
    (d / "b.md").write_text(
        "# Beta\n\nBroadcast joins avoid the shuffle for small dimensions."
    )
    return d


def _mk_engine(spark, tmp_path, docs_dir):
    table = str(tmp_path / "chunks_rec")
    eng = RagEngine(spark, table)
    eng.ingest_directory(str(docs_dir))  # ends with optimize(): stamped+clean
    assert eng.index_is_fresh()
    assert read_intent(table) is None  # clean close: intent cleared
    return eng, table


def _hits(eng, term):
    return {r["filePath"] for r in eng.keyword_search(term, limit=10).collect()}


def test_crash_between_mutation_and_optimize_recovers_bounded(
    spark, tmp_path, docs_dir
):
    """Kill between the chunks write and the postings sync: the restarted
    engine adopts the intent, proves the version chain, and recover_indexes
    converges with a BOUNDED refresh — index_is_fresh is the guard while
    stale, never the recovery mechanism."""
    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    c = docs_dir / "c.md"
    c.write_text("# Gamma\n\nSalting splits pathological hot keys apart across many partitions.")
    eng.ingest_file(str(c))  # table written, intent recorded, NO optimize
    assert read_intent(table) is not None  # crash window open

    eng2 = RagEngine(spark, table)  # "restart"
    assert not eng2._needs_full_index  # bounded: chain proves the intent
    assert str(c) in eng2._dirty_upserts
    assert not eng2.index_is_fresh()  # guarded while stale
    report = eng2.recover_indexes()
    assert report["fts"] is True
    assert eng2.index_is_fresh()
    assert read_intent(table) is None  # converged: window closed
    assert _hits(eng2, "salting") == {str(c)}
    # recovery is idempotent
    assert eng2.recover_indexes() == {"fts": False, "ann": False}


def test_crash_between_delete_and_optimize_recovers(spark, tmp_path, docs_dir):
    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    b = str(docs_dir / "b.md")
    assert _hits(eng, "broadcast") == {b}
    eng.delete_document(b)  # rows gone, postings stale, NO optimize

    eng2 = RagEngine(spark, table)
    assert not eng2._needs_full_index
    assert eng2.recover_indexes()["fts"] is True
    assert eng2.index_is_fresh()
    assert _hits(eng2, "broadcast") == set()
    assert _hits(eng2, "shuffles") == {str(docs_dir / "a.md")}


def test_crash_during_postings_rewrite_degrades_to_full(
    spark, tmp_path, docs_dir, monkeypatch
):
    """A crash INSIDE the bucket rewrite can tear a postings bucket, so
    the 'refreshing' marker forces recovery onto the always-safe full
    rebuild instead of a bounded refresh over a torn keep-set."""
    import mcp_local_rag_spark.plans.fts as fts_mod

    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    c = docs_dir / "c.md"
    c.write_text("# Gamma\n\nPredicate pushdown reaches the parquet scan and prunes row groups.")
    eng.ingest_file(str(c))

    real = fts_mod.refresh_postings
    monkeypatch.setattr(
        fts_mod,
        "refresh_postings",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed mid-rewrite")),
    )
    with pytest.raises(RuntimeError, match="killed mid-rewrite"):
        eng.optimize()
    monkeypatch.setattr(fts_mod, "refresh_postings", real)
    assert read_intent(table).get("refreshing") is True

    eng2 = RagEngine(spark, table)
    assert eng2._needs_full_index  # torn window -> full rebuild
    assert eng2.recover_indexes()["fts"] is True
    assert eng2.index_is_fresh()
    assert _hits(eng2, "pushdown") == {str(c)}


def test_crashed_ann_build_rebuilds_on_recovery(
    spark, tmp_path, docs_dir, monkeypatch
):
    import mcp_local_rag_spark.plans.ann_index as ai

    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    eng.build_ann_index()
    assert eng.ann_index_is_fresh()
    assert read_intent(table) is None

    c = docs_dir / "c.md"
    c.write_text("# Gamma\n\nAdaptive query execution re-plans shuffle stages at runtime.")
    eng.ingest_file(str(c))
    eng.optimize()
    assert not eng.ann_index_is_fresh()  # guarded-stale, as in normal flow

    real_build = ai.build_chunks_ivf
    monkeypatch.setattr(
        "mcp_local_rag_spark.plans.ann_index.build_chunks_ivf",
        lambda *a, **k: (_ for _ in ()).throw(RuntimeError("killed mid-build")),
    )
    with pytest.raises(RuntimeError, match="killed mid-build"):
        eng.build_ann_index()
    monkeypatch.setattr(
        "mcp_local_rag_spark.plans.ann_index.build_chunks_ivf", real_build
    )
    assert read_intent(table).get("ann") is not None  # build window open

    eng2 = RagEngine(spark, table)
    assert eng2._intent_ann is not None
    report = eng2.recover_indexes()
    assert report["ann"] is True
    assert eng2.ann_index_is_fresh()
    assert read_intent(table) is None


def test_crash_before_table_write_is_a_safe_noop(spark, tmp_path, docs_dir):
    """Intent published, process dies BEFORE the table mutation: recovery
    re-derives the recorded path from the unchanged table — live paths
    rebuild to identical postings, never-ingested paths clear to nothing."""
    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    a = str(docs_dir / "a.md")
    publish_intent(table, paths={a, "/never/ingested.md"})

    eng2 = RagEngine(spark, table)
    assert not eng2._needs_full_index  # covers stamp still matches
    assert not eng2.index_is_fresh()  # but dirty until re-derived
    assert eng2.recover_indexes()["fts"] is True
    assert eng2.index_is_fresh()
    assert _hits(eng2, "shuffles") == {a}
    assert _hits(eng2, "broadcast") == {str(docs_dir / "b.md")}


def test_version_chain_proof(tmp_path):
    """chain_reaches: an unbroken (new -> prev) walk from the current
    version to the covered stamp proves every bump is attributed; a
    foreign bump breaks the chain."""
    t = str(tmp_path / "t")
    os.makedirs(t)
    record_derived_version(t, "v1", "v0")
    record_derived_version(t, "v2", "v1")
    it = read_intent(t)
    assert chain_reaches(it, "v2", "v0")
    assert chain_reaches(it, "v1", "v0")
    assert chain_reaches(it, "v0", "v0")
    assert not chain_reaches(it, "v3", "v0")  # foreign bump on top
    assert not chain_reaches(it, "v2", "vX")  # stamp not on the chain
    assert not chain_reaches(it, "v2", None)  # no stamp at all


def test_intent_merge_and_clear_are_partitioned(tmp_path):
    """The FTS and ANN portions clear independently; merges are sticky."""
    t = str(tmp_path / "t2")
    os.makedirs(t)
    publish_intent(t, paths={"/a"}, full=False)
    publish_intent(t, paths={"/b"})
    publish_intent(t, ann={"n_cells": 4, "pq": False, "pq_m": 8})
    it = read_intent(t)
    assert sorted(it["paths"]) == ["/a", "/b"]
    clear_fts_intent(t)
    it = read_intent(t)
    assert "paths" not in it and it["ann"]["n_cells"] == 4
    clear_ann_intent(t)
    assert read_intent(t) is None
    assert not os.path.exists(_intent_path(t))
    # torn file degrades to the always-safe full rebuild
    with open(_intent_path(t), "w") as f:
        f.write("{not json")
    assert read_intent(t) == {"full": True}
    os.unlink(_intent_path(t))
    # JSON-but-not-an-object is the same degradation, not a crash
    with open(_intent_path(t), "w") as f:
        json.dump(["list"], f)
    assert read_intent(t) == {"full": True}


def test_sync_crash_recovers_bounded(spark, tmp_path, docs_dir):
    """sync mutates through batched deletes + writes; a crash before its
    closing optimize leaves the intent covering exactly the synced paths."""
    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    # change one file, remove another, add a third
    (docs_dir / "a.md").write_text(
        "# Alpha\n\nSpark shuffles data; repartition controls the layout."
    )
    os.remove(docs_dir / "b.md")
    (docs_dir / "c.md").write_text("# Gamma\n\nBucketing co-locates join keys so the join needs no shuffle.")

    import mcp_local_rag_spark.engine as eng_mod

    real_opt = eng_mod.RagEngine.optimize
    try:
        # "crash" before sync's closing optimize()
        eng_mod.RagEngine.optimize = lambda self: (_ for _ in ()).throw(
            RuntimeError("killed before optimize")
        )
        with pytest.raises(RuntimeError, match="killed before optimize"):
            eng.sync(str(docs_dir))
    finally:
        eng_mod.RagEngine.optimize = real_opt

    eng2 = RagEngine(spark, table)
    assert not eng2._needs_full_index  # every sync mutation attributed
    assert eng2.recover_indexes()["fts"] is True
    assert eng2.index_is_fresh()
    assert _hits(eng2, "repartition") == {str(docs_dir / "a.md")}
    assert _hits(eng2, "broadcast") == set()  # b.md pruned
    assert _hits(eng2, "bucketing") == {str(docs_dir / "c.md")}
    # parity: recovered postings == what a from-scratch rebuild derives
    from mcp_local_rag_spark.plans.fts import read_postings, write_postings

    ref = str(tmp_path / "ref_fts")
    write_postings(eng2.chunks(), ref, n_buckets=4)
    got = {
        tuple(r)
        for r in read_postings(spark, eng2.postings_path)
        .select("term", "filePath", "chunkIndex", "tf")
        .collect()
    }
    want = {
        tuple(r)
        for r in read_postings(spark, ref)
        .select("term", "filePath", "chunkIndex", "tf")
        .collect()
    }
    assert got == want


def test_intent_algebra_fuzz(tmp_path):
    """Randomized model check of the intent-protocol algebra (the same
    method as test_txn's interleaving fuzz, file-op speed): every
    publish/record/clear sequence leaves the sidecar semantically
    equal to a pure-python model — sticky full, path-set merge,
    ann/fts partitioning, file removal exactly when nothing remains."""
    import random

    from mcp_local_rag_spark.plans.engine_txn import (
        clear_ann_intent,
        clear_fts_intent,
        publish_intent,
        read_intent,
        record_derived_version,
    )

    def sem(it):
        it = it or {}
        return (
            bool(it.get("full")),
            set(it.get("paths") or ()),
            bool(it.get("refreshing")),
            {k: v for k, v in (it.get("derived") or {}).items()},
            it.get("ann") or None,
        )

    pool = [f"/d/p{i}.md" for i in range(6)]
    for seed in range(250):
        rng = random.Random(seed)
        table = str(tmp_path / f"t{seed}")
        os.makedirs(table, exist_ok=True)
        m_full, m_paths, m_refr, m_der, m_ann = False, set(), False, {}, None
        for _ in range(rng.randrange(3, 18)):
            op = rng.randrange(5)
            if op == 0:
                ps = set(rng.sample(pool, rng.randrange(0, 4)))
                fl = rng.random() < 0.15
                publish_intent(table, full=fl, paths=ps)
                m_full, m_paths = m_full or fl, m_paths | ps
            elif op == 1:
                rf = rng.random() < 0.5
                publish_intent(table, refreshing=rf)
                m_refr = rf
            elif op == 2:
                new, prev = str(rng.randrange(20)), str(rng.randrange(20))
                record_derived_version(table, new, prev)
                m_der[new] = prev
            elif op == 3:
                clear_fts_intent(table)
                if m_full or m_paths or m_refr or m_der or m_ann:
                    m_full, m_paths, m_refr, m_der = False, set(), False, {}
            else:
                an = {"building": rng.randrange(3)} if rng.random() < 0.6 else None
                if an is not None:
                    publish_intent(table, ann=an)
                    m_ann = an
                else:
                    clear_ann_intent(table)
                    if m_full or m_paths or m_refr or m_der or m_ann:
                        m_ann = None
            got = sem(read_intent(table))
            want = (m_full, set(m_paths), m_refr, dict(m_der), m_ann)
            assert got == want, (seed, got, want)
            # file existence: present iff something (semantically) remains
            has_file = read_intent(table) is not None
            if not any([m_full, m_paths, m_refr, m_der, m_ann]):
                # falsy-only writes may leave a semantically-empty file;
                # that must still READ as an empty intent (asserted above)
                pass
            else:
                assert has_file


@pytest.mark.parametrize(
    "seed",
    [
        11,
        pytest.param(23, marks=pytest.mark.slow),
        pytest.param(47, marks=pytest.mark.slow),
    ],
)
def test_engine_mutation_storm_crash_fuzz(spark, tmp_path, docs_dir, seed, monkeypatch):
    """Randomized mutation storm with ONE crash at a random window:
    a sequence of ingest/update/delete ops, optimize() at random points,
    then a crash injected in a random protocol window (postings rewrite,
    covers stamp, post-stamp clear — or plain process death with the
    window open). The restarted engine must recover to an index that is
    row-identical to a from-scratch rebuild of the final table."""
    import random

    import mcp_local_rag_spark.plans.engine_txn as etxn
    import mcp_local_rag_spark.plans.fts as fts_mod
    from mcp_local_rag_spark.plans.fts import read_postings, write_postings

    rng = random.Random(seed)
    eng, table = _mk_engine(spark, tmp_path, docs_dir)
    live = {"a": str(docs_dir / "a.md"), "b": str(docs_dir / "b.md")}

    def mk(name: str, rev: int) -> str:
        p = docs_dir / f"{name}.md"
        p.write_text(
            f"# {name}\n\nStorm document {name} revision {rev} with marker "
            f"storm{name}tok and enough deterministic filler to chunk."
        )
        return str(p)

    ops = []
    for i in range(rng.randrange(3, 6)):
        kind = rng.choice(["new", "update", "delete", "optimize"])
        ops.append(kind)
    crash_idx = rng.randrange(len(ops))
    crash_mode = rng.choice(["refresh", "stamp", "clear", "die"])

    crashed = False
    rev = 0
    for i, kind in enumerate(ops):
        inject = i == crash_idx and crash_mode != "die"
        if inject and kind != "optimize":
            kind = "optimize"  # the crash windows live inside optimize()
        try:
            if kind == "new":
                n = f"s{i}"
                live[n] = mk(n, 0)
                eng.ingest_file(live[n])
            elif kind == "update":
                n = rng.choice(sorted(live))
                rev += 1
                mk(n, rev)
                eng.ingest_file(live[n])
            elif kind == "delete" and len(live) > 1:
                n = rng.choice(sorted(live))
                eng.delete_document(live.pop(n))
            elif kind == "optimize":
                if inject:
                    if crash_mode == "refresh":
                        monkeypatch.setattr(
                            fts_mod, "refresh_postings",
                            lambda *a, **k: (_ for _ in ()).throw(
                                RuntimeError("crash:refresh")),
                        )
                        monkeypatch.setattr(
                            fts_mod, "write_postings",
                            lambda *a, **k: (_ for _ in ()).throw(
                                RuntimeError("crash:refresh")),
                        )
                    elif crash_mode == "stamp":
                        import mcp_local_rag_spark.plans.ingest as ingest_mod

                        real_wtm = ingest_mod.write_table_meta

                        def _stamp_crash(path, *a, **k):
                            # fire only on the COVERS stamp (the postings
                            # sidecar), not compact_chunks' table-version
                            # bump — the window under test is
                            # rewrite-done-but-unstamped
                            if path == eng.postings_path:
                                raise RuntimeError("crash:stamp")
                            return real_wtm(path, *a, **k)

                        monkeypatch.setattr(
                            ingest_mod, "write_table_meta", _stamp_crash
                        )
                    else:
                        monkeypatch.setattr(
                            etxn, "clear_fts_intent",
                            lambda *a, **k: (_ for _ in ()).throw(
                                RuntimeError("crash:clear")),
                        )
                    with pytest.raises(RuntimeError, match="crash:"):
                        eng.optimize()
                    crashed = True
                    break
                eng.optimize()
        except RuntimeError:
            raise
    # crash_mode == "die": just stop with whatever window is open

    monkeypatch.undo()
    eng2 = RagEngine(spark, table)
    eng2.recover_indexes()
    assert eng2.index_is_fresh()
    assert read_intent(table) is None

    ref = str(tmp_path / "ref_fts")
    write_postings(eng2.chunks(), ref, n_buckets=4)
    cols = ("term", "filePath", "chunkIndex", "tf")
    got = {tuple(r) for r in read_postings(spark, eng2.postings_path).select(*cols).collect()}
    want = {tuple(r) for r in read_postings(spark, ref).select(*cols).collect()}
    assert got == want, f"seed {seed}: recovered postings diverge (crash={crash_mode}, crashed={crashed})"
