"""Crash-durable index-sync intents for the ENGINE-tier tables.

The warehouse tier got cross-table atomicity in plans/txn; the product
hot path (engine ingest/sync -> chunks parquet table + FTS postings
(plans/fts) + ANN sidecar (plans/ann_index)) commits through three
separate protocols, so a crash between the chunks write and the index
syncs used to leave the indexes guarded-but-stale: ``index_is_fresh`` /
``ann_index_is_fresh`` caught it (queries stayed correct on the scan
fallback), but repair was manual, and the restart path rebuilt the FULL
index (the ``covers_table_version`` mismatch cannot tell a one-file
crash from a corrupted index, so it schedules O(corpus) work for an
O(file) problem — at 100 TB a crashed single-file ingest must not
re-tokenize 100 TB).

This module persists the engine's in-memory dirty state as an INTENT
sidecar next to the table, making index freshness crash-durable:

  publish   BEFORE every row mutation the engine merges the pending
            index work into ``<table>/_index_intent.json`` (tmp+rename
            + fsync — atomic, always-complete). The record is the
            paths-to-re-derive set plus a ``full`` flag, exactly the
            persisted twin of (_needs_full_index, _dirty_upserts,
            _dirty_deletes).
  recover   a restarted engine loads the intent into its dirty sets, so
            the NEXT ``optimize()`` (the reference's amortized
            per-bulk-run call, src/server/index.ts:543-549) re-syncs
            exactly the recorded paths — bounded by the crashed
            mutation, not the corpus. Recovery re-derives each recorded
            path from the CURRENT table rows (refresh_postings removes
            a target's old postings, then adds its current rows'
            postings), so it converges whether the crash hit before or
            after the table mutation landed.
  refreshing  ``optimize()`` flips this flag just before the postings
            rewrite: a crash DURING the bucket rewrite can tear a
            touched bucket (dynamic partition overwrite is atomic per
            dir, not per job), so recovery after that point falls back
            to the always-safe full rebuild. Crashes in the much wider
            mutation->optimize window stay on the bounded path.
  clear     ``optimize()`` removes the FTS portion after stamping the
            covered table version; ``build_ann_index`` clears the ANN
            portion after its stamp. Clear-after-stamp means a crash
            between them re-runs an idempotent no-op refresh — never
            the reverse (a cleared intent with an unstamped index).

Single-writer contract: ONE engine process mutates a chunks table at a
time (the reference is a single-process MCP server per db path,
src/server/index.ts) — the read-modify-write merge here is not
multi-writer safe; the warehouse tier's plans/txn is the multi-writer
protocol, and tables needing concurrent writers live there.

Reference anchor: generalizes the single-table backup/rollback the
reference wraps around each mutation (src/server/index.ts:644-702) into
a persisted recovery record covering the table AND its maintained
indexes.
"""

from __future__ import annotations

import json
import os

_INTENT_FILE = "_index_intent.json"


def _intent_path(table_path: str) -> str:
    return os.path.join(table_path, _INTENT_FILE)


def read_intent(table_path: str) -> dict | None:
    """The pending index-sync record, or None when the table is clean
    (no crash window open). A torn legacy file reads as a full-rebuild
    intent — the always-safe degradation."""
    try:
        with open(_intent_path(table_path)) as f:
            it = json.load(f)
        return it if isinstance(it, dict) else {"full": True}
    except FileNotFoundError:
        return None
    except (OSError, ValueError):
        return {"full": True}


def write_json_atomic(path: str, obj: dict) -> None:
    """Crash-durable JSON sidecar write — tmp + fsync + atomic rename.
    The one shared copy of the idiom every intent/marker in the package
    uses (this module's index intent, plans/repack's repack marker)."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _write(table_path: str, intent: dict) -> None:
    os.makedirs(table_path, exist_ok=True)
    write_json_atomic(_intent_path(table_path), intent)


def publish_intent(
    table_path: str,
    *,
    full: bool = False,
    paths: set[str] | frozenset[str] | list[str] | tuple[str, ...] = (),
    refreshing: bool | None = None,
    ann: dict | None = None,
) -> dict:
    """Merge pending index work into the intent (sticky: ``full`` and
    recorded paths survive until the matching clear — a second mutation
    landing before the first one's optimize() must not shrink the
    recovery set)."""
    it = read_intent(table_path) or {}
    it["full"] = bool(it.get("full")) or full
    if paths:
        it["paths"] = sorted(set(it.get("paths") or ()) | set(paths))
    if refreshing is not None:
        it["refreshing"] = bool(refreshing)
    if ann is not None:
        it["ann"] = ann
    _write(table_path, it)
    return it


# version-chain entries retained before the intent degrades to a full
# rebuild — a backstop against an optimize()-starved mutation storm
# growing the sidecar without bound, set far above any real
# mutations-per-optimize window
_DERIVED_CAP = 4096


def record_derived_version(table_path: str, new: str, prev: str | None) -> None:
    """Attribute a table-version bump to the engine's recorded intent:
    ``derived[new] = prev`` extends the version chain a restarted engine
    walks from the current table version back to the last covering stamp.
    An unbroken walk proves every bump since the stamp belongs to a
    mutation whose paths the intent records — the condition for BOUNDED
    crash recovery; any bump by a foreign writer (another process, a
    direct plans/ingest call outside the engine's attribution context)
    is absent from the chain, and recovery falls back to the always-safe
    full rebuild. Called by plans/ingest.bump_table_version inside
    ``attribute_mutations``."""
    it = read_intent(table_path) or {}
    derived = dict(it.get("derived") or {})
    if len(derived) >= _DERIVED_CAP:
        it["full"] = True
        it.pop("derived", None)
    else:
        derived[str(new)] = str(prev) if prev is not None else None
        it["derived"] = derived
    _write(table_path, it)


def chain_reaches(intent: dict, current: str, covered: str | None) -> bool:
    """Whether the intent's attributed version chain walks from
    ``current`` back to ``covered`` (the version the index stamp says it
    reflects) — i.e. every bump in between is accounted for."""
    if covered is None:
        return False
    derived = intent.get("derived") or {}
    v = current
    for _ in range(len(derived) + 1):
        if v == covered:
            return True
        v = derived.get(v)
        if v is None:
            return False
    return False


_FTS_KEYS = ("full", "paths", "refreshing", "derived")


def clear_fts_intent(table_path: str) -> None:
    """Drop the FTS portion (full/paths/refreshing/derived) after the
    covering stamp landed; the file stays only while an ANN build is
    still in flight."""
    it = read_intent(table_path)
    if it is None:
        return
    remaining = {k: v for k, v in it.items() if k == "ann" and v}
    if remaining:
        _write(table_path, remaining)
    else:
        try:
            os.unlink(_intent_path(table_path))
        except FileNotFoundError:
            pass


def clear_ann_intent(table_path: str) -> None:
    it = read_intent(table_path)
    if it is None or "ann" not in it:
        return
    it.pop("ann", None)
    if any(it.get(k) for k in _FTS_KEYS):
        _write(table_path, it)
    else:
        try:
            os.unlink(_intent_path(table_path))
        except FileNotFoundError:
            pass
