"""Savepoints: one named, immutable, CROSS-TABLE snapshot pin.

A training run consumes several co-evolving artifacts at once — the
documents snapshot table, its IVM rollups, secondary indexes, export
shards. Per-table time travel (plans/merge) answers "table T as of
version K"; what reproducibility needs is "EVERYTHING as of run R": a
savepoint records {table path -> current version} for a set of snapshot
tables in one atomic JSON (tmp+rename), so six months later the exact
corpus a model trained on can be re-read — the dataset-versioning half
of a 100 TB training pipeline (MLflow dataset tags / DVC pins / Delta's
"read all inputs at one timestamp", in engine-native form).

Savepoints are metadata-only (a few hundred bytes per table, no data
copied).

Consistency note: the pin records each table's CURRENT at create time,
in path order. Writers racing the create can land between reads — pin
quiescent tables (end-of-batch), or re-verify with `verify_savepoint`
which fails loudly if any pinned manifest has been vacuumed away.
"""

from __future__ import annotations

import json
import os
import time

from .merge import _snap_path, current_version, read_manifest


def _sp_path(root: str, name: str) -> str:
    if "/" in name or name.startswith("."):
        raise ValueError(f"savepoint name {name!r} must be a plain name")
    return os.path.join(root, f"{name}.json")


def create_savepoint(
    root: str, name: str, tables: list[str], *, metadata: dict | None = None
) -> dict:
    """Pin every table's CURRENT version under ``root/name.json``.
    Refuses to overwrite an existing savepoint (pins are immutable —
    that is their point). Returns the written record."""
    os.makedirs(root, exist_ok=True)
    path = _sp_path(root, name)
    if os.path.exists(path):
        raise FileExistsError(f"savepoint {name!r} already exists")
    record = {
        "name": name,
        "created_unix": time.time(),
        "tables": {
            os.path.abspath(t): current_version(t) for t in tables
        },
        "metadata": metadata or {},
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f, sort_keys=True)
    os.replace(tmp, path)
    return record


def load_savepoint(root: str, name: str) -> dict:
    with open(_sp_path(root, name)) as f:
        return json.load(f)


def list_savepoints(root: str) -> list[str]:
    if not os.path.isdir(root):
        return []
    return sorted(
        n[:-5]
        for n in os.listdir(root)
        if n.endswith(".json") and not n.startswith(".")
    )


def verify_savepoint(root: str, name: str) -> dict:
    """Metadata-only check that every pinned (table, version) is still
    readable — i.e. vacuum has not retired a pinned manifest. Returns
    {table: 'ok' | 'missing: ...'}; raises nothing (callers decide)."""
    record = load_savepoint(root, name)
    out = {}
    for table, version in record["tables"].items():
        try:
            read_manifest(table, version)
            out[table] = "ok"
        except (OSError, json.JSONDecodeError) as e:
            out[table] = f"missing: {_snap_path(table, version)} ({e})"
    return out


