"""Serving-path point reads over snapshot tables — no Spark job.

plans/merge.key_lookup is the in-plan (batch) form of a point read: it
prunes to one bucket directory, but still pays Spark's job-submission
floor (~100-200 ms) per read. This module is the NeighborServer pattern
(operators/neighbors.py, 2-5 ms reads) applied to snapshot-versioned
tables: the manifest is resolved driver-locally (JSON), the bucket is
routed with the bit-exact xxhash64 mirror (functions/spark_hash), and
the one bucket directory is read through a cached pyarrow dataset with
a typed predicate — row-group min/max stats prune inside the key-sorted
files exactly as they do for the Spark plan.

BASELINE.json's architecture note — "Batch index build via DataFrame
ops, serving requires external system" — this is that system for the
warehouse layer: same files, same manifests, same time-travel surface,
no extra infrastructure.

Scale posture: a lookup touches one manifest (O(n_buckets) JSON,
cached per immutable version), one directory listing (cached per
immutable data dir), and the row groups whose stats admit the key.
Nothing rides table size.
"""

from __future__ import annotations

import os
from typing import Any

from ..functions.spark_hash import bucket_of, spark_string_of
from .merge import (
    _dir_version,
    current_version,
    file_column_of,
    read_manifest,
)

def _coerce_arrow(value, arrow_type):
    """``value`` as the python type pyarrow needs to compare against a
    column of ``arrow_type`` without casting the column — typed from the
    file schema itself, so the reader never trusts (possibly older)
    manifest metadata for filter typing."""
    import pyarrow.types as pt

    if pt.is_integer(arrow_type):
        return int(value)
    if pt.is_floating(arrow_type):
        return float(value)
    if pt.is_boolean(arrow_type):
        if isinstance(value, bool):
            return value
        return str(value).lower() == "true"
    if pt.is_string(arrow_type) or pt.is_large_string(arrow_type):
        return value if isinstance(value, str) else spark_string_of(value)
    return value


class SnapshotReader:
    """Point reads (primary key -> rows) over one snapshot table.

    Handles are cached per immutable artifact: manifests by version,
    pyarrow datasets by data dir. The CURRENT pointer is re-read per
    lookup (one tiny file) so a reader stays fresh across commits
    without invalidation; ``invalidate()`` exists for vacuum (which
    deletes retired dirs a cached handle may reference)."""

    def __init__(self, table_path: str):
        self._path = table_path
        self._manifests: dict[int, dict] = {}
        self._datasets: dict[tuple[str, int], object] = {}

    def invalidate(self) -> None:
        self._manifests.clear()
        self._datasets.clear()

    def _manifest(self, version: int | None) -> dict:
        if version is None:
            version = current_version(self._path)
        if version not in self._manifests:
            self._manifests[version] = read_manifest(self._path, version)
        return self._manifests[version]

    def _dataset(self, data_dir: str, bucket: int):
        key = (data_dir, bucket)
        if key not in self._datasets:
            import pyarrow.dataset as ds

            self._datasets[key] = ds.dataset(
                os.path.join(self._path, data_dir, f"bucket={bucket}"),
                format="parquet",
            )
        return self._datasets[key]

    def lookup(
        self,
        key_value,
        *,
        version: int | None = None,
        columns: list[str] | None = None,
    ) -> list[dict[str, Any]]:
        """Rows whose primary key equals ``key_value``, as dicts in the
        manifest-recorded column order — null-filled for columns a
        pre-schema-evolution bucket file lacks, so the shape never
        depends on which bucket the key hashed into (key_lookup's
        contract)."""
        import pyarrow.dataset as ds

        manifest = self._manifest(version)
        key, nb = manifest["key"], manifest["n_buckets"]
        out_cols = columns or list(
            manifest.get("columns") or self._schema_cols(manifest)
        )
        b = bucket_of(spark_string_of(key_value), nb)
        data_dir = manifest["buckets"].get(str(b))
        if data_dir is None:
            return []
        dset = self._dataset(data_dir, b)
        # map current names to the dir's FILE-era names through the
        # manifest's schema log (rename/drop are metadata-only; old
        # files keep old names). None = lineage absent then -> NULL.
        log = manifest.get("schema_log", [])
        dirv = _dir_version(data_dir)
        fmap = {c: file_column_of(c, dirv, log) for c in out_cols}
        key_file = file_column_of(key, dirv, log) or key
        present = {
            c: fc
            for c, fc in fmap.items()
            if fc is not None and fc in dset.schema.names
        }
        typed = _coerce_arrow(key_value, dset.schema.field(key_file).type)
        tbl = dset.to_table(
            columns=sorted(set(present.values())),
            filter=ds.field(key_file) == typed,
        )
        rows = tbl.to_pylist()
        return [
            {c: (r[present[c]] if c in present else None) for c in out_cols}
            for r in rows
        ]

    def _schema_cols(self, manifest: dict) -> list[str]:
        # pre-"columns" manifests: derive from the v1 anchor dir's schema
        import pyarrow.dataset as ds

        anchor = ds.dataset(
            os.path.join(self._path, "data_v1"), format="parquet",
            partitioning="hive",
        )
        return [n for n in anchor.schema.names if n != "bucket"]


