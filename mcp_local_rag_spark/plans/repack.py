"""Shard re-pack maintenance (VERDICT r14 item 6): compaction at the
SHARD grain.

Shards are immutable-by-name (``ingest_shards`` keys rows by shard
path; a changed shard is re-synced, never edited in place) and curation
deletes samples, so a long-lived corpus accumulates sparse shards — a
tar whose live fraction is 10% still costs a full sequential read every
epoch. ``repack_shards`` merges sparse/small shards' LIVE samples into
full new shards under the intent discipline (intent before the
destructive file ops; recovery converges from any crash point), then
reconciles the table through the ordinary ``sync_shards`` pass.

Liveness: a sample whose picked TEXT member has chunk rows in the table
is live. A text sample with NO rows is ambiguous — it was either curated
away (drop) or it NEVER ingested (member-level parse failure, text below
the chunker's minimum gate — states ``sync_shards`` keeps-and-warns for,
never deletes). The two are told apart by re-running the parse+chunk
pipeline (embedding-free gates; a cheap pseudo backend suffices) on just
the rowless text samples of candidate shards: a sample that PRODUCES
chunks now but has none in the table can only have been curated away —
dropped; a sample that produces nothing could never have contributed
rows — KEPT, mirroring the sync contract that zero-chunk outcomes never
destroy source bytes. A sample with no text members at all (e.g.
json-only metadata) was never in the table and is always KEPT.

A registered shard with text members but ZERO live samples is excluded
from candidacy entirely (reported under ``skipped_rowless``): a shard
registered BEFORE its rows land is indistinguishable from a crashed
ingest whose replay still needs the original tar on disk. Pass
``reclaim_rowless=True`` only when no writer is mid-flight on the
directory (e.g. between epochs) to let fully-curated shards reclaim.

Sample identity / epoch purity: output members are RE-KEYED as
``<md5(source_shard)[:8]>-<sample_key>`` — globally unique across merged
shards (two source shards may share a basename key; WebDataset allows
it, one output tar does not), provenance-recoverable given the source
list. Because epoch keys are md5(seed | shard | key), a repack starts a
NEW epoch universe: shard names and keys both change, so a mid-epoch
cursor (plans/epoch.epoch_after) does NOT survive a repack — run repack
between epochs, exactly like real training pipelines re-shard between
runs.

Crash protocol (the dedup-index ``.refreshing`` lesson applied):
  1. stage new tars into ``<dir>/.repack-staging/`` — invisible to the
     shard glob; a crash here leaves garbage the next repack clears;
  2. publish the intent marker ``<table>/_repack_intent.json`` listing
     exactly (old tars to delete, staged tars to move) — only AFTER
     staging is fully written;
  3. apply file ops (move staged in, delete old) — each idempotent;
  4. clear the marker — from here the DIRECTORY is the truth and any
     routine ``sync_shards`` converges (new tars ingest, gone prune);
  5. sync.
``recover_pending_repack`` replays 3-5 from the marker; ``sync_shards``
calls it first, so a routine sync can never observe half-applied file
ops (which would double-serve live samples present in both old and new
tars).

No reference counterpart (the reference has no shard corpus); this is
the maintenance verb the WebDataset arc (ingest/sync/export/watch/epoch)
was missing. Scale shape: liveness is one expand pass (map-only, each
tar read once — the unavoidable cost of any compaction) joined against
the table's bucketed paths; tar writes are one task per output shard
(export_webdataset_shards' applyInPandas); nothing but one bounded row
per shard reaches the driver.
"""

from __future__ import annotations

import glob as _glob
import hashlib
import json
import os

from pyspark.sql import functions as F

INTENT_FILE = "_repack_intent.json"
STAGING_DIR = ".repack-staging"


def _intent_path(table_path: str) -> str:
    return os.path.join(table_path, INTENT_FILE)


def read_repack_intent(table_path: str) -> dict | None:
    """The pending repack marker, or None. A torn/unreadable marker RAISES
    with operator guidance rather than guessing: the marker is the only
    record of which file ops may be half-applied, so neither 'ignore it'
    (a routine sync could double-serve samples present in both old and
    staged tars) nor any automatic fallback is safe — unlike engine_txn's
    index intent, whose always-safe degradation (full rebuild) has no
    repack analogue. The write is atomic (tmp+fsync+rename), so this path
    only fires on filesystem-level damage."""
    p = _intent_path(table_path)
    if not os.path.exists(p):
        return None
    try:
        with open(p) as f:
            it = json.load(f)
        if not isinstance(it, dict):
            raise ValueError("not a dict")
        return it
    except (OSError, ValueError) as e:
        raise RuntimeError(
            f"repack intent marker unreadable ({e}): {p}. Staged tars (if"
            " any) are still under the shard directory's .repack-staging/;"
            " inspect which of the marker's file ops applied before"
            " removing the marker — do not sync over it."
        ) from e


def _publish_repack_intent(table_path: str, intent: dict) -> None:
    from .engine_txn import write_json_atomic

    os.makedirs(table_path, exist_ok=True)
    write_json_atomic(_intent_path(table_path), intent)


def _apply_file_ops(intent: dict) -> None:
    """Idempotent phase 3: move staged tars into the drop dir, delete the
    repacked originals. Safe to replay from any prefix."""
    staging = intent["staging"]
    for name in intent["staged"]:
        src = os.path.join(staging, name)
        if os.path.exists(src):
            os.replace(src, os.path.join(intent["shard_dir"], name))
    for p in intent["old"]:
        if os.path.exists(p):
            os.unlink(p)


def recover_pending_repack(engine) -> bool:
    """Complete a crashed repack's file ops and clear the marker. Returns
    True when a pending intent was found (callers then re-sync). MUST be
    called before any shard reconciliation or epoch read of the directory
    — a read over half-applied file ops would see the new tars while the
    old ones still serve, double-counting every live sample. The marker
    is table-global and carries its own shard_dir, so recovery completes
    regardless of which directory the caller is operating on."""
    intent = read_repack_intent(engine.table_path)
    if intent is None:
        return False
    _apply_file_ops(intent)
    os.unlink(_intent_path(engine.table_path))
    return True


def repack_shards(
    engine,
    shard_dir: str,
    *,
    pattern: str = "*.tar*",
    samples_per_shard: int = 1000,
    min_utilization: float = 0.5,
    reclaim_rowless: bool = False,
) -> dict:
    """Merge sparse/small registered shards into full new shards. A shard
    is a candidate when its live-sample fraction is below
    ``min_utilization`` or it holds fewer than ``samples_per_shard // 2``
    samples. Returns a report; a run with nothing to do is a no-op. See
    the module docstring for the liveness rule (curated-away vs
    never-ingested) and ``reclaim_rowless``."""
    from ..sources.scan import read_files
    from ..sources.webdataset import TEXT_SLOTS, expand_shards, pick_text_rows
    from .export import export_webdataset_shards

    spark = engine.spark
    shard_dir = os.path.abspath(shard_dir)
    if recover_pending_repack(engine):
        engine.sync_shards(shard_dir, pattern=pattern)
    staging = os.path.join(shard_dir, STAGING_DIR)
    if os.path.isdir(staging):  # stale staging from a pre-intent crash
        for f in os.listdir(staging):
            os.unlink(os.path.join(staging, f))

    known = engine._shard_containers()
    listing = sorted(
        p
        for p in _glob.glob(os.path.join(shard_dir, pattern))
        if os.path.isfile(p) and p in known
    )
    report = {
        "candidates": [], "new_shards": [], "samples_kept": 0,
        "samples_dropped": 0, "skipped_rowless": [], "noop": True,
    }
    if not listing:
        return report

    # one expand pass: per-sample membership + text flag + live check.
    # errors='record' + corrupt-shard exclusion: a shard that registered
    # clean but was corrupted on disk afterwards must neither crash the
    # repack nor have its __corrupt__ marker row repacked as a "sample" —
    # it keeps its stored rows and stays out of the candidate set, the
    # same parse-before-delete posture sync_shards takes.
    from ..sources.webdataset import CORRUPT_SLOT

    members = expand_shards(read_files(spark, listing), errors="record").persist()
    try:
        corrupt_shards = {
            r["shard"]
            for r in members.filter(F.col("slot") == CORRUPT_SLOT)
            .select("shard")
            .distinct()
            .collect()  # bounded: one row per corrupt shard
        }
        if corrupt_shards:
            members_clean = members.filter(
                ~F.col("shard").isin(sorted(corrupt_shards))
            )
        else:
            members_clean = members
        fmt = F.element_at(F.split(F.col("slot"), r"\."), -1)
        samples = (
            members_clean.groupBy("shard", "sample_key")
            .agg(F.max(fmt.isin(list(TEXT_SLOTS)).cast("int")).alias("has_text"))
        )
        # the picked text member, content kept (the producibility check
        # below re-parses it); text_path is the identity ingest used
        # (pick_text_members' path spelling, with shard/sample_key kept)
        picked = pick_text_rows(members_clean).withColumn(
            "text_path",
            F.concat_ws(
                "", F.col("shard"), F.lit("#"), F.col("sample_key"),
                F.lit("."), F.col("slot"),
            ),
        )
        picked_ids = picked.select("shard", "sample_key", "text_path")
        if engine._exists():
            stored = (
                engine.chunks()
                .select(F.col("filePath").alias("text_path"))
                .distinct()
            )
            live_text = picked_ids.join(
                stored, "text_path", "left_semi"
            ).select("shard", "sample_key", F.lit(1).alias("live"))
        else:
            live_text = picked_ids.select(
                "shard", "sample_key", F.lit(0).alias("live")
            ).limit(0)
        # optimistic keep (every rowless text sample assumed curated
        # away) is used for PRELIMINARY candidacy only: the final keep
        # set can only grow from here (unproducible samples come back),
        # so no shard outside this candidate set could qualify later —
        # and the producibility re-parse then runs on just the
        # candidates' dead samples, not the whole directory
        flags = (
            samples.join(live_text, ["shard", "sample_key"], "left")
            .withColumn(
                "keep",
                (F.col("has_text") == 0) | F.col("live").isNotNull(),
            )
        )
        stats = {
            r["shard"]: (int(r["total"]), int(r["kept"]), int(r["live_n"]))
            for r in flags.groupBy("shard")
            .agg(
                F.count("*").alias("total"),
                F.sum(F.col("keep").cast("int")).alias("kept"),
                F.sum(F.col("live").isNotNull().cast("int")).alias("live_n"),
            )
            .collect()  # bounded: one row per shard
        }
        small = samples_per_shard // 2
        prelim = sorted(
            s
            for s, (total, kept, _live) in stats.items()
            if kept < total * min_utilization or total < small
        )
        # wholly-rowless text-bearing shards: indistinguishable from a
        # crashed ingest whose replay still needs the tar
        # (see module docstring) — excluded unless the caller vouches
        skipped_rowless = sorted(
            s
            for s in prelim
            if stats[s][2] == 0 and stats[s][1] < stats[s][0]
        ) if not reclaim_rowless else []
        report["skipped_rowless"] = skipped_rowless
        prelim = [s for s in prelim if s not in set(skipped_rowless)]
        if not prelim:
            return report

        # producibility: re-run the ingest parse+chunk gates (cheap
        # pseudo embedding — the gates are backend-independent) on the
        # candidates' rowless text samples; a sample that yields no
        # chunks could never have contributed rows, so its absence from
        # the table is NOT curation and it must be kept
        from .ingest import build_chunks, parse_hashed

        dead = picked.filter(F.col("shard").isin(prelim)).join(
            live_text.select("shard", "sample_key"),
            ["shard", "sample_key"],
            "left_anti",
        )
        dead_ids = dead.select("shard", "sample_key", "text_path")
        parsed = parse_hashed(
            dead.select(
                F.col("text_path").alias("path"),
                "content",
                F.col("size").alias("length"),
            )
        )
        producible_paths = (
            build_chunks(
                parsed.filter(F.col("parse_error").isNull()),
                dim=8,
                backend="pseudo",
            )
            .select(F.col("filePath").alias("text_path"))
            .distinct()
        )
        unproducible = dead_ids.join(
            producible_paths, "text_path", "left_anti"
        ).select("shard", "sample_key")
        kept_back = {
            r["shard"]: int(r["n"])
            for r in unproducible.groupBy("shard")
            .agg(F.count("*").alias("n"))
            .collect()  # bounded: one row per shard
        }
        # FINAL candidacy with the corrected kept counts — a shard whose
        # "dead" samples were all unproducible gains nothing from a
        # rewrite (and a rewrite re-keys samples, breaking epoch purity)
        final_kept = {s: stats[s][1] + kept_back.get(s, 0) for s in prelim}
        cands = sorted(
            s
            for s in prelim
            if final_kept[s] < stats[s][0] * min_utilization
            or stats[s][0] < small
        )
        has_dead = any(final_kept[s] < stats[s][0] for s in cands)
        if not cands or (len(cands) == 1 and not has_dead):
            return report  # nothing to gain

        keep_keys = (
            flags.filter(F.col("shard").isin(cands) & F.col("keep"))
            .select("shard", "sample_key")
            .unionByName(unproducible.filter(F.col("shard").isin(cands)))
        )
        # re-key: md5(source shard)[:8] prefix — see module docstring
        out_members = (
            members_clean.join(keep_keys, ["shard", "sample_key"], "left_semi")
            .select(
                F.concat_ws(
                    "-", F.substring(F.md5("shard"), 1, 8), F.col("sample_key")
                ).alias("sample_key"),
                "slot",
                "content",
            )
        )
        kept_total = sum(final_kept[s] for s in cands)
        dropped_total = sum(stats[s][0] - final_kept[s] for s in cands)
        run_id = hashlib.sha256(
            ("|".join(cands) + "|" + str(sorted(known.get(c) for c in cands)))
            .encode()
        ).hexdigest()[:8]
        new_names: list[str] = []
        if kept_total:
            os.makedirs(staging, exist_ok=True)
            manifest = export_webdataset_shards(
                out_members.withColumn("pack", F.lit(f"repack-{run_id}")),
                staging,
                shard_col="pack",
                samples_per_shard=samples_per_shard,
            )
            new_names = sorted(manifest["shards"])
            # the manifest file must not travel into the drop dir
            from .export import WDS_MANIFEST_FILE

            mf = os.path.join(staging, WDS_MANIFEST_FILE)
            if os.path.exists(mf):
                os.unlink(mf)
    finally:
        members.unpersist()

    intent = {
        "shard_dir": shard_dir,
        "staging": staging,
        "old": cands,
        "staged": new_names,
        "run_id": run_id,
    }
    _publish_repack_intent(engine.table_path, intent)
    _apply_file_ops(intent)
    os.unlink(_intent_path(engine.table_path))
    engine.sync_shards(shard_dir, pattern=pattern)
    report.update(
        candidates=cands,
        new_shards=[os.path.join(shard_dir, n) for n in new_names],
        samples_kept=kept_total,
        samples_dropped=dropped_total,
        noop=False,
    )
    return report
