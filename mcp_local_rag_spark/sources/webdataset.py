"""WebDataset-style tar shard source.

Large multimodal training corpora ship as POSIX tar shards whose members
group into samples by basename stem — the WebDataset convention (Breuel,
github.com/webdataset/webdataset): the sample key is the member path up
to the FIRST dot of the basename, the remainder is the slot extension
(``e39871fd.jpg`` -> key ``e39871fd``, slot ``jpg``; ``a.seg.png`` ->
key ``a``, slot ``seg.png``). A shard is the unit of parallelism — the
whole point of the format is that a 100 TB corpus is just millions of
independently-readable ~1 GB tars, so the Spark plan is binaryFile over
shards + a map-only member expansion, no shuffle until the caller asks
for one.

This module has no reference counterpart (the reference's parser
registry is one-file-one-document, src/parser/index.ts); it extends S6
the same way structured.py does, and composes with the compression
envelopes: ``shard-000.tar.gz`` unwraps through ``maybe_decompress``
(output-capped) before the tar walk.
"""

from __future__ import annotations

import io
import posixpath
import tarfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .structured import maybe_decompress


def split_member_key(name: str) -> tuple[str, str]:
    """WebDataset grouping rule: (sample_key, slot). The key keeps the
    directory part so same-stem members in different subdirs stay
    distinct samples; the slot is lowercased (extension semantics)."""
    dirname, base = posixpath.split(name)
    if "." not in base:
        return name, ""
    stem, slot = base.split(".", 1)
    return posixpath.join(dirname, stem) if dirname else stem, slot.lower()


# Envelope cap for COMPRESSED shards (tar.gz/.tgz/...): shards run ~1 GB
# by convention, so the document-sized MAX_FILE_SIZE default would refuse
# legitimate compressed shards. 2 GiB headroom; expand_shards bounds peak
# executor memory to ONE shard regardless (one yielded frame per shard).
MAX_SHARD_BYTES = 2 << 30


def parse_tar_bytes(
    path: str, content: bytes, *, max_bytes: int = MAX_SHARD_BYTES
) -> list[dict]:
    """One shard -> member rows, archive order preserved. Only regular
    files become rows (directories / links / devices are skipped — links
    especially, matching the scanner's symlink policy); a corrupt tar
    raises so the caller's coverage row records it."""
    path, content = maybe_decompress(path, content, max_bytes=max_bytes)
    rows: list[dict] = []
    try:
        with tarfile.open(fileobj=io.BytesIO(content), mode="r:") as tf:
            for member in tf:
                if not member.isreg():
                    continue
                f = tf.extractfile(member)
                data = f.read() if f is not None else b""
                key, slot = split_member_key(member.name)
                rows.append(
                    {
                        "member": member.name,
                        "sample_key": key,
                        "slot": slot,
                        "member_index": len(rows),
                        "size": len(data),
                        "content": data,
                    }
                )
    except tarfile.TarError as exc:
        raise ValueError(f"corrupt tar shard {path}: {exc}") from exc
    return rows


MEMBER_SCHEMA = StructType(
    [
        StructField("shard", StringType()),
        StructField("member", StringType()),
        StructField("sample_key", StringType()),
        StructField("slot", StringType()),
        StructField("member_index", LongType()),
        StructField("size", LongType()),
        StructField("content", BinaryType()),
    ]
)


CORRUPT_SLOT = "__corrupt__"


def expand_shards(
    shards: DataFrame,
    *,
    errors: str = "raise",
    max_bytes: int = MAX_SHARD_BYTES,
) -> DataFrame:
    """(path, content) shard rows -> member rows. Pure map stage: one
    input row yields its members in place, executors never exchange
    bytes, and each shard yields its OWN frame so peak task memory is
    one decompressed shard, not the whole Arrow batch. Column pruning
    upstream keeps metadata-only consumers from reading shard content.

    ``errors='record'`` turns a corrupt/oversized shard into one row
    with slot ``__corrupt__`` and the error text as content (coverage,
    not crash — one bad shard must not wedge a long ingest); the default
    raises."""
    import pandas as pd

    if errors not in ("raise", "record"):
        raise ValueError(f"errors must be 'raise' or 'record': {errors!r}")
    cols = [f.name for f in MEMBER_SCHEMA.fields]

    def _expand(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for shard, content in zip(pdf["path"], pdf["content"]):
                try:
                    rows = [
                        (shard, r["member"], r["sample_key"], r["slot"],
                         r["member_index"], r["size"], r["content"])
                        for r in parse_tar_bytes(
                            shard, bytes(content), max_bytes=max_bytes
                        )
                    ]
                except ValueError as exc:
                    if errors == "raise":
                        raise
                    rows = [
                        (shard, "", "", CORRUPT_SLOT, 0, 0,
                         str(exc).encode("utf-8"))
                    ]
                yield pd.DataFrame(rows, columns=cols)

    return shards.select("path", "content").mapInPandas(_expand, MEMBER_SCHEMA)


def read_webdataset(
    spark: SparkSession,
    paths: list[str],
    *,
    errors: str = "raise",
    max_bytes: int = MAX_SHARD_BYTES,
) -> DataFrame:
    """Distributed shard read -> member rows (binaryFile source, one task
    per shard — WebDataset's native parallelism grain)."""
    from .scan import read_files

    return expand_shards(
        read_files(spark, paths), errors=errors, max_bytes=max_bytes
    )


def assemble_samples(members: DataFrame) -> DataFrame:
    """Member rows -> one row per sample with a slot->content map (the
    shape a training loader consumes: ``slots['jpg']``, ``slots['txt']``,
    ...). One shuffle on (shard, sample_key); sample parts are adjacent
    within a shard so the aggregate's map-side combine sees them in the
    same input split. A duplicate slot within one sample is a malformed
    shard and FAILS the job (map_from_entries under Spark's default
    duplicate-key policy) rather than silently dropping a member."""
    return (
        members.groupBy("shard", "sample_key")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("slot", "content")))
            ).alias("slots"),
            F.count("*").cast("long").alias("n_slots"),
            F.sum("size").cast("long").alias("total_bytes"),
            F.min("member_index").cast("long").alias("first_member_index"),
        )
    )


def write_tar_shard(members: list[tuple[str, bytes]]) -> bytes:
    """Deterministic single-shard writer (USTAR, zeroed mtime/uid/gid):
    the same member list always produces byte-identical shards, so
    export manifests can checksum them and tests can hash-gate
    roundtrips. Members are written in the given order — WebDataset
    requires a sample's parts be adjacent."""
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:", format=tarfile.USTAR_FORMAT) as tf:
        for name, data in members:
            info = tarfile.TarInfo(name=name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue()


TEXT_SLOTS = ("md", "txt", "html", "htm")


def pick_text_rows(
    members: DataFrame, *, slots: tuple[str, ...] = TEXT_SLOTS
) -> DataFrame:
    """One text member per sample, MEMBER COLUMNS KEPT — the shared slot-
    matching core (``pick_text_members`` derives the record identity from
    it; plans/export's epoch packer consumes it directly, so the two can
    never diverge on what counts as a sample's text).

    A WebDataset slot is the FULL post-first-dot extension chain, so
    compound spellings are common (``doc.en.txt`` -> slot ``en.txt``,
    ``caption.txt`` under a dotted stem): matching is therefore by the
    slot's LAST dot-segment (``en.txt`` matches ``txt``), with priority
    taken from that segment too — the segment is what names the format,
    the earlier segments are sample-local qualifiers. Priority follows
    ``slots`` order, ties settled by archive order; the window runs
    inside (shard, sample_key), so it shares the sample shuffle grain
    and never sorts globally. Two qualified text members of one sample
    (``en.txt`` vs ``de.txt``) stay distinct candidate rows and the
    window picks exactly one."""
    from pyspark.sql import Window

    fmt = F.element_at(F.split(F.col("slot"), r"\."), -1)
    texts = members.filter(fmt.isin(list(slots)))
    priority = F.array_position(F.array(*[F.lit(s) for s in slots]), fmt)
    w = Window.partitionBy("shard", "sample_key").orderBy(
        priority, "member_index"
    )
    return (
        texts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def pick_text_members(
    members: DataFrame, *, slots: tuple[str, ...] = TEXT_SLOTS
) -> DataFrame:
    """One text member per sample -> (path, content, length) rows with
    the stable record identity ``<shard>#<sample_key>.<slot>`` (the full
    slot, not the matched segment). Selection semantics live in
    ``pick_text_rows``."""
    return pick_text_rows(members, slots=slots).select(
        F.concat_ws(
            "", F.col("shard"), F.lit("#"), F.col("sample_key"),
            F.lit("."), F.col("slot"),
        ).alias("path"),
        "content",
        F.col("size").alias("length"),
    )
