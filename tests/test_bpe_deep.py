"""Frozen deep-vocabulary BPE (functions/bpe.py + assets/vocab_deep*.json):
the production train-once / encode-everywhere split, exercised at full
320-merge depth where merge interactions actually occur.

What depth changes vs the 4-merge toy lanes: merged symbols become
substrings of LATER merges' symbols ('_s' -> '_sort' -> '_sort_group'),
so any deviation in application ORDER or in the left-to-right
non-overlapping replace convention produces a different tokenization —
these tests pin that the one-fold encode (apply_merges_col) is
bit-identical to the trainer's own state evolution, and that training
itself is deterministic enough to ship as a committed artifact."""

import json
import os

import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.functions import bpe

SF0001 = "/root/testdata/sf0.001"
SF0001_VOCAB = os.path.join(bpe._ASSET_DIR, "vocab_deep_sf0001.json")


def test_artifact_contract():
    """The committed production artifact: >=256 merges, SentencePiece doc
    grain, alphabet closed over [a-z_], every merge concatenation-
    consistent and buildable from previously available symbols."""
    v = bpe.load_vocab()
    assert v["n_merges"] >= 256 and len(v["merges"]) == v["n_merges"]
    assert v["marker"] == "_" and v["unit"] == "sentencepiece-doc"
    available = set("abcdefghijklmnopqrstuvwxyz_")
    for l, r in v["merges"]:
        assert set(l) | set(r) <= set("abcdefghijklmnopqrstuvwxyz_"), (l, r)
        # order-buildable: both sides exist when the merge is learned
        assert l in available and r in available, (l, r)
        available.add(l + r)
    # depth is real: cross-word tokens exist (the whole point of the
    # SentencePiece grain on this 31-word corpus)
    assert any("_" in (l + r)[1:] for l, r in v["merges"])


def test_retrain_reproduces_committed_artifact(spark):
    """Training determinism: the greedy batched trainer is a pure
    function of exact integer pair counts with a total tie order, so
    retraining with the committed params reproduces the committed
    sf0.001 artifact merge-for-merge."""
    import tools.train_vocab as tv

    merges = tv.train(spark, SF0001)
    committed = [tuple(m) for m in json.load(open(SF0001_VOCAB))["merges"]]
    assert merges == committed


def test_apply_merges_reproduces_trainer_state_at_depth(spark):
    """The encode fold == the trainer's state chain, at full depth over
    the real corpus: applying the learned merge list (in learned order,
    one aggregate fold) to the BASE units lands on exactly the trainer's
    final symbol state for every distinct unit."""
    from mcp_local_rag_spark.queries.curation import _bpe_train_batched
    from mcp_local_rag_spark.session import load

    units = bpe.sp_units(load(spark, SF0001, "documents"))
    rows, state, base = _bpe_train_batched(
        spark, None, sweeps=40, batch_cap=64, max_merges=320,
        words=units, select="greedy",
    )
    merges = [(l, r) for _s, l, r, _m, _c in rows]
    assert len(merges) >= 256
    want = {r["w"]: r["s"] for r in state.select("w", "s").collect()}
    got = {
        r["w"]: r["s"]
        for r in base.select(
            "w", bpe.apply_merges_col(F.col("s"), merges).alias("s")
        ).collect()
    }
    base.unpersist()
    assert got == want


def test_depth_bites_monotone_compression(spark):
    """More merges -> fewer tokens, strictly, across prefix depths of the
    frozen vocab (16 -> 64 -> 320): proves the deep tail of the merge
    list is doing real work on the real corpus, not decoration."""
    from mcp_local_rag_spark.session import load

    v = bpe.load_vocab()
    docs = load(spark, SF0001, "documents")
    unit = bpe.sp_unit_col("text")
    padded = bpe.pad_symbols_col(unit)
    totals = {}
    for depth in (16, 64, len(v["merges"])):
        totals[depth] = docs.select(
            bpe.token_count_col(
                bpe.apply_merges_col(padded, v["merges"][:depth])
            ).alias("n")
        ).agg(F.sum("n")).first()[0]
    assert totals[16] > totals[64] > totals[len(v["merges"])]
    # and the full vocab compresses the corpus below 40% of its
    # character count (chars/token > 2.5 at depth)
    n_chars = docs.select(F.length(unit).alias("c")).agg(F.sum("c")).first()[0]
    assert totals[len(v["merges"])] * 5 < n_chars * 2


def test_export_packed_epoch_bpe_deep(spark, tmp_path):
    """End-to-end composition at production depth: tar shards -> frozen
    deep-vocab encode -> seeded epoch -> pack -> packed shard export.
    Reading the packs back must reproduce each source shard's epoch
    token stream under the SAME tokenizer, and token accounting is
    exact."""
    from tests.test_epoch import epoch_samples
    from mcp_local_rag_spark.plans.export import (
        export_packed_epoch,
        verify_webdataset_export,
    )
    from mcp_local_rag_spark.sources.webdataset import (
        read_webdataset,
        write_tar_shard,
    )

    v = bpe.load_vocab()
    # real corpus text slices (so the deep merges actually fire), spread
    # over 3 shards
    import duckdb

    texts = [
        t for (t,) in duckdb.sql(
            f"SELECT text FROM '{SF0001}/documents.parquet' LIMIT 12"
        ).fetchall()
    ]
    paths = []
    for si in range(3):
        members = []
        for j in range(4):
            members.append((f"{si}{j:03d}.txt", texts[si * 4 + j].encode()))
        p = tmp_path / f"shard-{si}.tar"
        p.write_bytes(write_tar_shard(members))
        paths.append(str(p))

    out = tmp_path / "epoch-bpe"
    rep = export_packed_epoch(
        spark, paths, str(out), seed=5, seq_len=32, buffer=2,
        tokenizer="bpe-deep",
    )
    assert rep["tokenizer"] == "bpe-deep"
    assert verify_webdataset_export(spark, str(out)) == []

    # expected per-shard epoch token stream, computed independently via
    # the fold over the epoch-ordered samples
    ordered = (
        epoch_samples(spark, paths, seed=5, buffer=2)
        .select(
            "shard",
            F.filter(
                F.split(
                    bpe.apply_merges_col(
                        bpe.pad_symbols_col(
                            bpe.sp_unit_col(
                                "cast(slots['txt'] AS STRING)"
                            )
                        ),
                        v["merges"],
                    ),
                    "  ",
                ),
                lambda x: x != F.lit(""),
            ).alias("toks"),
        )
        .collect()
    )
    want: dict[str, list[str]] = {}
    for r in ordered:
        want.setdefault(r["shard"], []).extend(r["toks"])
    assert sum(len(t) for t in want.values()) == rep["n_tokens"]

    back = read_webdataset(
        spark,
        [str(out / f) for f in sorted(os.listdir(out)) if f.endswith(".tar")],
    ).collect()
    got: dict[str, list[str]] = {}
    for r in sorted(back, key=lambda r: r["sample_key"]):
        src = r["sample_key"].split("-")[0]
        got.setdefault(src, []).extend(
            bytes(r["content"]).decode().split(" ")
        )
    # map md5-prefix sample ids back to source shards
    import hashlib

    by_prefix = {
        hashlib.md5(p.encode()).hexdigest()[:8]: p for p in want
    }
    assert {by_prefix[k]: v_ for k, v_ in got.items()} == want
