"""Training-shard export — the pipeline's LAST MILE: take the curated
corpus and materialize trainer-consumable shards.

Two shapes:

  * ``export_webdataset_shards`` — size-bounded POSIX tar shards with a
    sha256 manifest (``verify_webdataset_export`` re-checks it).
  * ``export_packed_epoch`` — one seeded training epoch of a WebDataset
    corpus as packed-sequence shards.

Scale posture: assignment is a per-shard-key window (partitioned, never
a global sort); nothing collects to the driver. Determinism: shard
assignment is a pure function of (shard key, doc order), so re-running
the export reproduces the same shards byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window


# ---------------------------------------------------------------------------
# WebDataset tar-shard export — the multimodal last mile: member rows
# (sample_key, slot, content) become size-bounded POSIX tar shards a
# training loader streams directly. Sample assignment is a per-shard-key
# window (never a global sort); each shard is written by ONE task via the
# deterministic write_tar_shard (byte-identical re-export => the sha256
# manifest is a real reproducibility handshake, not just a size census).
# Shards land under out_dir via tmp-file + atomic rename, so a crashed
# export never leaves a half-written .tar a loader could pick up. Paths
# must be on a filesystem every executor shares (local mode / NFS —
# the same contract as the warehouse manifest dirs).

WDS_MANIFEST_FILE = "_wds_manifest.json"


def assign_wds_shards(
    members: DataFrame,
    *,
    shard_col: str = "lang",
    samples_per_shard: int = 1000,
) -> DataFrame:
    """Deterministic (shard_key, shard_index) per SAMPLE: consecutive
    sample_keys pack samples_per_shard to a shard. The window runs over
    the distinct sample table (small side), then joins back — member
    rows never sort globally. The join is NULL-SAFE on both keys: a
    NULL shard_col or sample_key is still a sample and must land in a
    shard, not silently vanish from the export (a plain column-list
    join drops NULL keys with no error, and the manifest would agree
    with the truncated output)."""
    keys = members.select(shard_col, "sample_key").distinct()
    w = Window.partitionBy(shard_col).orderBy(F.col("sample_key").asc_nulls_first())
    assign = keys.withColumn(
        "shard_index",
        ((F.row_number().over(w) - F.lit(1)) / F.lit(samples_per_shard))
        .cast("long"),
    ).withColumnsRenamed({shard_col: "_a_key", "sample_key": "_a_sample"})
    joined = members.join(
        assign,
        members[shard_col].eqNullSafe(assign["_a_key"])
        & members["sample_key"].eqNullSafe(assign["_a_sample"]),
    )
    return joined.drop("_a_key", "_a_sample")


def export_webdataset_shards(
    members: DataFrame,
    out_dir: str,
    *,
    shard_col: str = "lang",
    samples_per_shard: int = 1000,
) -> dict:
    """Write tar shards + manifest; returns the manifest dict. Member
    naming is ``<sample_key>.<slot>`` (bare key when slot is empty), and
    a sample's members are adjacent, ordered by slot — the WebDataset
    contract. Shard FILE names sanitize the shard key (data values may
    carry '/', '..', or be NULL — written raw they would escape out_dir
    or crash the task); a changed spelling gets a short content-hash
    suffix so distinct raw keys can never collide onto one file."""
    import hashlib
    import json
    import os
    import re
    import uuid

    import pandas as pd

    def _safe_name(key) -> str:
        # no leading '.'/'_' either: Spark's file sources treat those as
        # hidden and would silently skip the shard on read-back/verify
        raw = "null" if key is None else str(key)
        safe = re.sub(r"[^A-Za-z0-9._-]", "_", raw).lstrip("._") or "key"
        if safe != raw:
            safe += "-" + hashlib.sha256(raw.encode()).hexdigest()[:6]
        return safe

    os.makedirs(out_dir, exist_ok=True)
    assigned = assign_wds_shards(
        members,
        shard_col=shard_col,
        samples_per_shard=samples_per_shard,
    )

    schema = (
        f"{shard_col} string, shard_index long, file string, n_samples long,"
        " n_members long, bytes long, sha256 string"
    )

    def _write(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from ..sources.webdataset import write_tar_shard

        raw_key, idx = key[0], int(key[1])
        shard_key = "null" if raw_key is None else str(raw_key)
        pdf = pdf.sort_values(["sample_key", "slot"])
        mem = [
            (f"{k}.{s}" if s else str(k), bytes(c))
            for k, s, c in zip(pdf["sample_key"], pdf["slot"], pdf["content"])
        ]
        blob = write_tar_shard(mem)
        name = f"{_safe_name(raw_key)}-{idx:06d}.tar"
        tmp = os.path.join(out_dir, f".{name}.{uuid.uuid4().hex}.tmp")
        with open(tmp, "wb") as f:
            f.write(blob)
        os.replace(tmp, os.path.join(out_dir, name))
        return pd.DataFrame(
            [
                {
                    shard_col: shard_key,
                    "shard_index": idx,
                    "file": name,
                    "n_samples": pdf["sample_key"].nunique(),
                    "n_members": len(mem),
                    "bytes": len(blob),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                }
            ]
        )

    rows = (
        assigned.groupBy(shard_col, "shard_index")
        .applyInPandas(_write, schema)
        .collect()  # bounded: one row per written shard
    )
    manifest = {
        "format": "webdataset",
        "shard_col": shard_col,
        "samples_per_shard": samples_per_shard,
        "total_samples": sum(r["n_samples"] for r in rows),
        "total_members": sum(r["n_members"] for r in rows),
        "shards": {
            r["file"]: {
                "shard_key": r[shard_col],
                "shard_index": r["shard_index"],
                "n_samples": r["n_samples"],
                "n_members": r["n_members"],
                "bytes": r["bytes"],
                "sha256": r["sha256"],
            }
            for r in rows
        },
    }
    with open(os.path.join(out_dir, WDS_MANIFEST_FILE), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_webdataset_export(spark, out_dir: str) -> list[str]:
    """Recompute shard checksums and sample/member counts from the bytes
    on disk and diff against the manifest — [] means the export
    reproduces. ONE distributed pass reads each shard once and computes
    all four facts (sha256, bytes, samples, members) executor-side; only
    one bounded row per shard reaches the driver, so verification scales
    with the cluster, not the driver, and pays the shard I/O once."""
    import glob
    import json
    import os

    from ..sources.scan import read_files

    with open(os.path.join(out_dir, WDS_MANIFEST_FILE)) as f:
        want = json.load(f)
    problems: list[str] = []
    on_disk = sorted(
        os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*.tar"))
    )
    stats: dict[str, dict] = {}
    if on_disk:

        def _stats(batches):
            import hashlib

            import pandas as pd

            from ..sources.webdataset import parse_tar_bytes

            for pdf in batches:
                for path, content in zip(pdf["path"], pdf["content"]):
                    blob = bytes(content)
                    try:
                        members = parse_tar_bytes(path, blob)
                        n_s = len({m["sample_key"] for m in members})
                        n_m, err = len(members), None
                    except ValueError as exc:
                        n_s = n_m = 0
                        err = str(exc)
                    yield pd.DataFrame(
                        [
                            (path, len(blob),
                             hashlib.sha256(blob).hexdigest(), n_s, n_m, err)
                        ],
                        columns=["path", "nbytes", "sha256", "n_samples",
                                 "n_members", "error"],
                    )

        files = read_files(spark, [os.path.join(out_dir, n) for n in on_disk])
        stats = {
            os.path.basename(r["path"]): r.asDict()
            for r in files.select("path", "content")
            .mapInPandas(
                _stats,
                "path string, nbytes long, sha256 string, n_samples long,"
                " n_members long, error string",
            )
            .collect()
        }
    for name in sorted(set(want["shards"]) | set(on_disk)):
        rec = want["shards"].get(name)
        if rec is None:
            problems.append(f"unexpected shard {name}")
            continue
        got = stats.get(name)
        if got is None:
            problems.append(f"missing shard {name}")
            continue
        if got["nbytes"] != rec["bytes"]:
            problems.append(
                f"shard {name}: {got['nbytes']} bytes != {rec['bytes']}"
            )
        if got["sha256"] != rec["sha256"]:
            problems.append(f"shard {name}: checksum drifted")
        if got["error"]:
            problems.append(f"shard {name}: unreadable: {got['error']}")
        elif (got["n_samples"], got["n_members"]) != (
            rec["n_samples"], rec["n_members"]
        ):
            problems.append(
                f"shard {name}: samples/members"
                f" ({got['n_samples']},{got['n_members']}) !="
                f" ({rec['n_samples']},{rec['n_members']})"
            )
    return problems


def export_packed_epoch(
    spark,
    shard_paths: list[str],
    out_dir: str,
    *,
    seed: int,
    seq_len: int,
    buffer: int | None = None,
    samples_per_shard: int = 1000,
    tokenizer: str = "whitespace",
) -> dict:
    """Materialize ONE seeded training epoch of a WebDataset corpus as
    packed-sequence shards. Callers resolving ``shard_paths`` from a
    repack-managed directory must run ``plans.repack.recover_pending_repack``
    first (the CLI ``export-epoch`` verb does): a crashed repack's
    half-applied file ops leave old and staged tars both visible, and an
    epoch read over that state double-serves every live sample.
    Pipeline: epoch order (plans/epoch.epoch_keys) ->
    whitespace tokenization of each sample's text member -> GPT-style
    concat-and-chunk into ``seq_len``-token sequences -> one tar shard
    family per SOURCE shard (deterministic re-export, sha256 manifest).
    The one-command form of the pipeline a training job runs per epoch;
    the exactness proof rides in the return value: every input token
    lands in exactly one output pack (``n_tokens_in == n_tokens_out``
    asserted here, not left to the caller).

    No reference counterpart (consumer-side of the corpus-serving role,
    src/server/index.ts:471-477 generalized). Shapes: member expansion
    map-only; text-member pick a window inside (shard, sample_key); the
    packing cumsum a SHARD-partitioned window; pack assembly one
    exchange on (shard, pack_id); the tar writes one task per output
    shard. Sample identity: ``<md5(shard)[:8]>-<pack_id>`` so two source
    shards sharing a basename can never collide."""
    from pyspark.sql import functions as F

    from ..sources.webdataset import pick_text_rows, read_webdataset
    from .epoch import epoch_keys, pack_token_spans

    members = read_webdataset(spark, [str(p) for p in shard_paths])
    # pick_text_rows is THE slot-matching rule (shared with ingest) — the
    # epoch export must select the same text member ingest indexes, or
    # training tokens silently diverge from the searchable corpus.
    # persisted: the token frame is read twice (the pack/manifest
    # pipeline and the input-token accounting aggregate) and re-deriving
    # it would re-decompress and re-walk every source tar.
    if tokenizer == "whitespace":
        toks_col = F.expr(
            r"filter(split(cast(content AS STRING), '\\s+'), x -> x <> '')"
        )
    elif tokenizer == "bpe-deep":
        # the frozen deep vocabulary (functions/bpe.py, assets/
        # vocab_deep.json): tokens are BPE symbols under the committed
        # 320-merge SentencePiece-style vocab — the production shape
        # (train once, encode everywhere). Still one map-only fold per
        # sample; packing/accounting downstream is tokenizer-agnostic.
        from ..functions import bpe

        v = bpe.load_vocab()
        unit = bpe.sp_unit_col("cast(content AS STRING)")
        state = bpe.apply_merges_col(bpe.pad_symbols_col(unit), v["merges"])
        toks_col = F.filter(F.split(state, "  "), lambda x: x != F.lit(""))
    else:
        raise ValueError(f"unknown tokenizer: {tokenizer!r}")
    texts = (
        pick_text_rows(members)
        .select(
            "shard",
            "sample_key",
            F.col("member_index").alias("first_member_index"),
            toks_col.alias("toks"),
        )
        .withColumn("n_tokens", F.size("toks").cast("long"))
        .persist()
    )
    keyed = epoch_keys(texts, seed=seed, buffer=buffer)
    frags = pack_token_spans(
        keyed,
        seq_len=seq_len,
        part_col="shard",
        order_cols=["epoch_block", "epoch_intra", "sample_key"],
        token_col="n_tokens",
    ).withColumn(
        "frag_toks",
        F.expr(
            "slice(toks, cast(doc_tok_offset AS INT) + 1,"
            " cast(frag_tokens AS INT))"
        ),
    )
    packs = (
        frags.groupBy("shard", "pack_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("tok_start", "frag_toks"))
            ).alias("fr"),
            F.sum("frag_tokens").alias("n_tokens"),
        )
        .select(
            "shard",
            "pack_id",
            "n_tokens",
            F.flatten(F.expr("transform(fr, x -> x.frag_toks)")).alias("toks"),
        )
        .persist()  # read twice: member rows + the accounting aggregate
    )
    out_members = packs.select(
        F.element_at(
            F.split(F.element_at(F.split(F.col("shard"), "/"), -1), r"\."), 1
        ).alias("pack_shard"),
        F.concat_ws(
            "-",
            F.substring(F.md5("shard"), 1, 8),
            F.format_string("%06d", F.col("pack_id").cast("int")),
        ).alias("sample_key"),
        F.lit("txt").alias("slot"),
        F.encode(F.concat_ws(" ", F.col("toks")), "utf-8").alias("content"),
    )
    manifest = export_webdataset_shards(
        out_members, out_dir, shard_col="pack_shard",
        samples_per_shard=samples_per_shard,
    )
    acct = packs.agg(
        F.count("*").alias("n_packs"), F.sum("n_tokens").alias("out_toks")
    ).first()
    n_in = texts.filter(F.col("n_tokens") > 0).agg(
        F.sum("n_tokens")
    ).first()[0]
    texts.unpersist()
    packs.unpersist()
    n_out = int(acct["out_toks"] or 0)
    if int(n_in or 0) != n_out:
        raise AssertionError(
            f"packed epoch lost tokens: in={n_in} out={n_out}"
        )
    from .epoch import epoch_universe

    return {
        "manifest": manifest,
        "seed": int(seed),
        "seq_len": int(seq_len),
        "buffer": buffer,
        "tokenizer": tokenizer,
        "n_packs": int(acct["n_packs"]),
        "n_tokens": n_out,
        # identity of the source shard set this epoch order is defined
        # over — a mid-epoch cursor is only resumable while the current
        # set still matches (plans/epoch.epoch_universe / epoch_after)
        "epoch_universe": epoch_universe([str(p) for p in shard_paths]),
    }
