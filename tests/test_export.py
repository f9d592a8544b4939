"""Training-shard export sinks (plans/export): WebDataset tar shards,
their manifest verification, and the curate -> export -> re-ingest loop."""

from __future__ import annotations

import json
import os


def test_webdataset_export_roundtrip_and_verify(spark, tmp_path):
    """Tar-shard export: deterministic shards, sha256 manifest, atomic
    writes, verify catches tampering and extra shards."""
    import json
    import os

    from mcp_local_rag_spark.plans.export import (
        WDS_MANIFEST_FILE,
        export_webdataset_shards,
        verify_webdataset_export,
    )
    from mcp_local_rag_spark.sources.webdataset import read_webdataset

    rows = []
    for i in range(7):
        lang = "en" if i % 2 == 0 else "de"
        rows.append((lang, f"{i:04d}", "txt", bytearray(f"text {i}".encode())))
        rows.append((lang, f"{i:04d}", "json", bytearray(b'{"k": 1}')))
    members = spark.createDataFrame(
        rows, "lang string, sample_key string, slot string, content binary"
    )
    out = str(tmp_path / "wds")
    manifest = export_webdataset_shards(
        members, out, shard_col="lang", samples_per_shard=2
    )
    # 4 en samples -> 2 shards, 3 de samples -> 2 shards
    assert manifest["total_samples"] == 7 and manifest["total_members"] == 14
    assert len(manifest["shards"]) == 4
    assert verify_webdataset_export(spark, out) == []

    # deterministic re-export: same bytes, same checksums
    manifest2 = export_webdataset_shards(
        members, out, shard_col="lang", samples_per_shard=2
    )
    assert {k: v["sha256"] for k, v in manifest["shards"].items()} == {
        k: v["sha256"] for k, v in manifest2["shards"].items()
    }

    # loader-side read: samples come back whole with adjacent members
    back = read_webdataset(
        spark, [os.path.join(out, n) for n in manifest["shards"]]
    )
    assert back.count() == 14
    assert back.select("sample_key").distinct().count() == 7

    # tamper -> verify reports; extra shard -> reported
    victim = sorted(manifest["shards"])[0]
    with open(os.path.join(out, victim), "r+b") as f:
        f.seek(600)
        f.write(b"X")
    problems = verify_webdataset_export(spark, out)
    assert any("checksum drifted" in p for p in problems)
    with open(os.path.join(out, WDS_MANIFEST_FILE)) as f:
        json.load(f)  # manifest itself stays valid JSON
    os.rename(
        os.path.join(out, victim), os.path.join(out, "rogue-000000.tar")
    )
    problems = verify_webdataset_export(spark, out)
    assert any("unexpected shard" in p for p in problems)
    assert any("missing shard" in p for p in problems)


def test_webdataset_export_null_and_unsafe_keys(spark, tmp_path):
    """NULL shard keys and samples still export (null-safe assignment —
    a plain column-list join would silently drop them), and path-unsafe
    shard values sanitize into out_dir with a collision-proof suffix."""
    import os

    from mcp_local_rag_spark.plans.export import (
        export_webdataset_shards,
        verify_webdataset_export,
    )

    rows = [
        (None, "a1", "txt", bytearray(b"null-lang sample")),
        ("en/US", "b1", "txt", bytearray(b"slash in key")),
        ("../evil", "c1", "txt", bytearray(b"traversal attempt")),
        ("en", "d1", "txt", bytearray(b"plain")),
    ]
    members = spark.createDataFrame(
        rows, "lang string, sample_key string, slot string, content binary"
    )
    out = str(tmp_path / "wds_nulls")
    manifest = export_webdataset_shards(
        members, out, shard_col="lang", samples_per_shard=10
    )
    assert manifest["total_samples"] == 4 and manifest["total_members"] == 4
    # every shard landed INSIDE out_dir, nothing escaped or crashed
    names = sorted(manifest["shards"])
    assert all(os.path.exists(os.path.join(out, n)) for n in names)
    assert not os.path.exists(str(tmp_path / "evil-000000.tar"))
    assert any(n.startswith("null-") for n in names)
    assert verify_webdataset_export(spark, out) == []


def test_curate_export_reingest_loop(spark, tmp_path):
    """The last mile end-to-end: a curated keep-set exports to
    WebDataset shards (manifest-verified), and a loader-side read-back
    reconstructs exactly the kept documents — the full
    curate -> export -> train-side-ingest loop."""
    import json
    import os

    from mcp_local_rag_spark.plans.export import (
        export_webdataset_shards,
        verify_webdataset_export,
    )
    from mcp_local_rag_spark.session import load
    from mcp_local_rag_spark.sources.webdataset import (
        assemble_samples,
        read_webdataset,
    )
    from pyspark.sql import functions as F

    docs = (
        load(spark, "/root/testdata/sf0.001", "documents")
        .filter(F.col("n_chars") >= 400)  # stand-in curation keep rule
        .select("doc_id", "lang", "text")
    )
    kept = {(r.doc_id, r.lang, r.text) for r in docs.collect()}
    assert kept  # rule keeps something at sf0.001

    members = docs.select(
        "lang",
        F.format_string("%08d", F.col("doc_id")).alias("sample_key"),
        F.lit("txt").alias("slot"),
        F.encode("text", "utf-8").alias("content"),
    ).union(
        docs.select(
            "lang",
            F.format_string("%08d", F.col("doc_id")).alias("sample_key"),
            F.lit("json").alias("slot"),
            F.encode(
                F.format_string('{"id": %d}', F.col("doc_id")), "utf-8"
            ).alias("content"),
        )
    )
    out = str(tmp_path / "export")
    manifest = export_webdataset_shards(
        members, out, shard_col="lang", samples_per_shard=64
    )
    assert manifest["total_samples"] == len(kept)
    assert verify_webdataset_export(spark, out) == []

    back = read_webdataset(
        spark, [os.path.join(out, n) for n in manifest["shards"]]
    )
    got = {
        (
            int(json.loads(bytes(r["slots"]["json"]).decode())["id"]),
            bytes(r["slots"]["txt"]).decode("utf-8"),
        )
        for r in assemble_samples(back).collect()
    }
    assert got == {(d, t) for d, _lang, t in kept}
