"""Snapshot-versioned MERGE (upsert/delete) tables with time travel.

The reference simulates transactions with backup/delete/insert/rollback
around a whole-file replace (src/server/index.ts:644-702); plans/ingest.py
already generalizes that to bucket-local rewrites. This module adds the
missing warehouse half: a CDC-style MERGE INTO (update + insert + delete in
one pass) against a hash-bucketed table, with every version retained as an
immutable snapshot manifest — the minimal Delta/Iceberg-shaped commit
protocol, built from plain parquet + JSON.

Layout:
    <table>/data_v{N}/bucket=<b>/*.parquet   immutable data written by commit N
    <table>/_snapshots/v{N}.json             manifest: bucket -> data dir
    <table>/_snapshots/CURRENT               tmp+rename pointer to latest N

Scale posture (the 100 TB question):
  * A merge reads ONLY the buckets the source touches: the touched-bucket
    set is computed from the delta (one delta-sized aggregate), and the
    snapshot read prunes every other bucket via the manifest before any
    parquet is opened. Write amplification is bounded by touched buckets,
    never the table.
  * The merge itself is ONE full-outer equi-join, delta vs touched-bucket
    rows, both sides hash-partitioned on the key — no driver loop, no
    per-row path.
  * Commits are metadata-only beyond the new bucket files: a manifest is
    O(n_buckets) JSON. Old manifests are never rewritten, so time travel
    (`read_snapshot(..., version=K)`) is a pure read of version K's file
    list — the Iceberg snapshot model.
  * Data dirs are immutable once committed: a crashed merge leaves a
    data_v{N} dir with no manifest/CURRENT pointing at it — invisible to
    readers, safely re-written by the retry.
"""

from __future__ import annotations

import contextvars
import json
import os
import shutil
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet

_TS_WRITE_LOCK = threading.Lock()

_SNAP_DIR = "_snapshots"

# Active multi-table transaction (plans/txn.transaction). While set,
# _commit PREPARES manifests (publishes v{N}.json with a txn marker,
# does NOT flip CURRENT) and current_version resolves a prepared table
# to its prepared version — read-your-own-writes inside the block,
# invisible to every other reader until the txn record commits.
_ACTIVE_TXN: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "spark_graft_txn", default=None
)

# only_buckets reads at or below this open their bucket dirs DIRECTLY
# (no sibling-dir listing); larger sets amortize one basePath listing
_DIRECT_READ_MAX = 32


# replay-dedup keys retained per manifest. Replays come from checkpoint
# loss and replay only the stream's tail, so a bounded window gives the
# same exactly-once guarantee without O(batches) manifest growth (Delta
# keeps one txn version per appId for the same reason).
_APPLIED_KEEP = 200


def _trim_applied(applied: list[str]) -> list[str]:
    return applied[-_APPLIED_KEEP:]


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (optimistic concurrency:
    the manifest file is created O_EXCL, so exactly one writer can own a
    version number). Retry from the new current snapshot."""


def _snap_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, _SNAP_DIR, f"v{version:08d}.json")


def _current_raw(table_path: str) -> int:
    """The on-disk CURRENT pointer, ignoring any active transaction."""
    with open(os.path.join(table_path, _SNAP_DIR, "CURRENT")) as f:
        return int(f.read().strip())


def current_version(table_path: str) -> int:
    """Latest committed version — or, inside an active transaction that
    has prepared this table, the prepared version (the writer's own
    view; everyone else keeps reading the committed pointer)."""
    txn = _ACTIVE_TXN.get()
    if txn is not None:
        prepared = txn["prepared"].get(os.path.abspath(table_path))
        if prepared:
            return prepared[-1]
    return _current_raw(table_path)


def _snap_lock(snap_dir: str):
    """Exclusive per-table flock over the snapshot metadata — serializes
    CURRENT flips and marker-checked manifest unlinks (plans/txn.
    unlink_if_marked). Writers publishing manifests do NOT take it: they
    only CREATE names via O_EXCL link, so the lock's read-then-act
    critical sections can never observe a name mutating under them.
    Non-reentrant by design: no snapshot critical section nests."""
    from .locks import flock_dir

    return flock_dir(snap_dir, ".CURRENT.lock", create=True)


def _flip_current(table_path: str, version: int) -> bool:
    """Advance the CURRENT pointer to ``version`` (tmp+rename, atomic on
    POSIX). MONOTONIC: a stale flip — a recovery racing a writer that
    already committed further — is a no-op, so replaying a transaction's
    roll-forward can never move a table backwards.

    Flips are serialized per table with an exclusive flock
    (``_snap_lock``) so the monotonic check and the rename are one
    atomic step (a plain check-then-replace would let a txn replay pass
    the ``>= version`` check before a live writer's newer flip lands,
    then move CURRENT backwards), and each flipper writes a
    uuid-unique tmp so two concurrent flips can never tear or steal
    each other's tmp file."""
    snap_dir = os.path.join(table_path, _SNAP_DIR)
    with _snap_lock(snap_dir):
        try:
            if _current_raw(table_path) >= version:
                return False
        except FileNotFoundError:
            pass
        tmp = os.path.join(snap_dir, f".CURRENT.{uuid.uuid4().hex[:8]}.tmp")
        with open(tmp, "w") as f:
            f.write(str(version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(snap_dir, "CURRENT"))
        return True


def list_versions(table_path: str) -> list[int]:
    d = os.path.join(table_path, _SNAP_DIR)
    return sorted(
        int(n[1:-5]) for n in os.listdir(d)
        if n.startswith("v") and n.endswith(".json")
    )


def read_manifest(table_path: str, version: int | None = None) -> dict:
    if version is None:
        version = current_version(table_path)
    with open(_snap_path(table_path, version)) as f:
        return json.load(f)


def _commit(table_path: str, manifest: dict, version: int) -> None:
    """Write manifest v{version} then flip CURRENT via tmp+rename (atomic
    on POSIX): readers either see the old complete snapshot or the new
    complete snapshot, never a half-commit.

    Concurrency: the manifest is fully written to a hidden tmp file and
    PUBLISHED with os.link, which fails atomically if the name exists —
    so two writers racing to commit the same version number serialize on
    the filesystem (the loser gets ConcurrentCommitError and must
    re-derive from the winner's snapshot; merge_into(max_retries=...)
    does this), and a visible v{N}.json is ALWAYS complete: a writer
    crash can never leave a torn manifest, only an orphan tmp file
    (vacuum sweeps those). That completeness guarantee is what makes
    repair_current's roll-forward safe.

    Inside an active transaction (plans/txn) the manifest is PREPARED
    instead: published with a txn marker — which still reserves the
    version number via the same O_EXCL link, so concurrent writers
    collide exactly as they would with a committed version — but CURRENT
    does not flip until the transaction's single commit record lands."""
    txn = _ACTIVE_TXN.get()
    if txn is not None:
        manifest = {**manifest, "txn": {"id": txn["id"], "log": txn["log"]}}
    snap_dir = os.path.join(table_path, _SNAP_DIR)
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f".v{version}.{uuid.uuid4().hex[:8]}.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, _snap_path(table_path, version))
    except FileExistsError:
        os.unlink(tmp)
        raise ConcurrentCommitError(
            f"version {version} of {table_path} was committed by another "
            "writer"
        ) from None
    os.unlink(tmp)
    if txn is not None:
        txn["prepared"].setdefault(os.path.abspath(table_path), []).append(
            version
        )
        on_prepare = txn.get("_on_prepare")
        if on_prepare is not None:
            on_prepare(txn)
        return
    _flip_current(table_path, version)


def repair_current(
    table_path: str, *, inflight_grace: float | None = None
) -> int | None:
    """Roll CURRENT forward to the newest complete manifest — the
    recovery path for a writer that crashed AFTER publishing v{N}.json
    but BEFORE flipping the pointer. Without this, every future writer
    targets N, collides, re-derives from the same stale CURRENT, and
    livelocks. Adoption is safe because _commit publishes manifests
    with os.link, so a visible manifest is complete by construction.

    Returns the version CURRENT advanced to, or None when it was
    already at the newest manifest. A manifest newer than CURRENT that
    does not parse (a torn file from a pre-link-protocol crash) fails
    loudly with removal guidance rather than being silently skipped.

    Transactional manifests (plans/txn): a newer manifest carrying a
    txn marker is adopted only if its transaction COMMITTED; an
    in-flight foreign transaction is decided by racing an abort record
    (so a crashed coordinator can never wedge the table — but it also
    means a concurrent writer ABORTS a transaction still preparing:
    transactions are short by construction, data is written before the
    first prepare). Aborted manifests are unlinked, freeing their
    version numbers.

    ``inflight_grace`` is the MAINTENANCE caller's posture (plans/
    maintain.table_maintain): a cron sweep has no version number to
    fight for, so unlike a colliding writer it must not abort a healthy
    coordinator mid-prepare — an undecided transaction whose prepared
    manifest is younger than the grace window is left alone (the repair
    stops short of it and returns). Writers keep the default None:
    abort-to-make-progress is their designed trade."""
    advanced = None
    while True:
        versions = list_versions(table_path)
        if not versions:
            return advanced
        try:
            cur = current_version(table_path)
        except FileNotFoundError:
            # a table whose FIRST commit was transactional and whose
            # coordinator died before the flip has manifests but no
            # CURRENT yet — healable like any other unflipped commit
            cur = 0
        newest = versions[-1]
        if newest <= cur:
            return advanced
        try:
            manifest = read_manifest(table_path, newest)
            ok = manifest.get("version") == newest
        except FileNotFoundError:
            # unlinked between the listing and the read — a concurrent
            # repairer/abort resolved it (or a claim-rename is in flight);
            # a transient, not a torn file: re-derive what is newest
            continue
        except (json.JSONDecodeError, OSError):
            ok = False
        if not ok:
            raise RuntimeError(
                f"manifest v{newest} of {table_path} is newer than CURRENT "
                f"({cur}) but unreadable — a torn file from a crashed legacy "
                "writer. Delete it to unwedge the table: "
                f"{_snap_path(table_path, newest)}"
            )
        txn_info = manifest.get("txn")
        if txn_info is not None:
            active = _ACTIVE_TXN.get()
            if active is not None and active["id"] == txn_info["id"]:
                # our own prepared write — not adoptable, not abortable
                return advanced
            from .txn import resolve_txn, unlink_if_marked

            if inflight_grace is not None:
                rec = resolve_txn(txn_info, abort_inflight=False)
                if rec["state"] == "inflight":
                    try:
                        age = max(
                            0.0,
                            time.time()
                            - os.path.getmtime(
                                _snap_path(table_path, newest)
                            ),
                        )
                    except FileNotFoundError:
                        continue
                    if inflight_grace > 0 and age < inflight_grace:
                        # young undecided txn: defer — the cron pass
                        # must not kill a live coordinator
                        return advanced
                    rec = resolve_txn(txn_info)
            else:
                rec = resolve_txn(txn_info)
            if rec["state"] != "commit":
                # aborted (or in-flight, now aborted by us): free the
                # version number and re-evaluate what is newest. The
                # unlink RE-CHECKS the marker under the current file
                # state — between our read and now, another repairer may
                # have freed the number and a writer legitimately reused
                # it; deleting that foreign commit would lose it.
                unlink_if_marked(
                    _snap_path(table_path, newest), txn_info["id"]
                )
                continue
        _flip_current(table_path, newest)
        advanced = newest
        return advanced


def _writer_manifest(table_path: str) -> dict:
    """CURRENT manifest for a WRITER, healing a stale pointer first: a
    prior writer that crashed between publishing its manifest and
    flipping CURRENT would otherwise wedge every future commit on that
    version number. repair_current is idempotent, metadata-only, and
    safe (published manifests are link-complete), so every writer entry
    point self-heals instead of livelocking."""
    repair_current(table_path)
    return read_manifest(table_path)


def _bucketed(df: DataFrame, key: str, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key).cast("string")), F.lit(n_buckets)).cast("int")
    )


def _write_data_version(
    df: DataFrame,
    table_path: str,
    version: int,
    key: str,
    n_parts: int,
    *,
    order_by: list | None = None,
    drop_after_sort: tuple = (),
    max_records_per_file: int | None = None,
) -> str:
    """Materialize one immutable data dir: rows carry their bucket column,
    one output file per touched bucket, sorted by key inside each file so
    row-group min/max stats prune point reads. ``n_parts`` is the caller's
    touched-bucket count — passing it avoids re-running the merge plan
    just to count distinct buckets.

    Post-v1 dirs carry a random token so two writers racing toward the
    same version number can never clobber each other's files — the loser
    of the O_EXCL manifest race leaves an orphan dir no manifest
    references (invisible to readers; vacuum collects it). v1 stays plain
    ``data_v1``: it is the schema anchor read_snapshot's empty guard and
    vacuum both rely on."""
    data_dir = (
        "data_v1" if version == 1 else f"data_v{version}_{uuid.uuid4().hex[:8]}"
    )
    out = (
        df.repartition(max(n_parts, 1), "bucket")
        .sortWithinPartitions("bucket", *(order_by or [key]))
    )
    if drop_after_sort:
        out = out.drop(*drop_after_sort)  # projection keeps the order
    writer = out.write.partitionBy("bucket").mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    # INT96 (Spark's default parquet timestamp encoding) carries NO
    # min/max stats, which silently disables row-group skipping on every
    # timestamp predicate — force MICROS for all snapshot-table files.
    # The switch is a SESSION-GLOBAL conf (no per-write option exists),
    # so the set/write/restore window is serialized by a module lock:
    # without it, two threads' finally-restores can interleave and land
    # a write back on INT96
    conf = df.sparkSession.conf
    ts_key = "spark.sql.parquet.outputTimestampType"
    with _TS_WRITE_LOCK:
        prev = conf.get(ts_key, None)
        conf.set(ts_key, "TIMESTAMP_MICROS")
        try:
            writer.parquet(os.path.join(table_path, data_dir))
        finally:
            if prev is None:
                conf.unset(ts_key)
            else:
                conf.set(ts_key, prev)
    return data_dir


def create_merge_table(
    df: DataFrame, table_path: str, key: str, *, n_buckets: int = 16
) -> int:
    """Initial load: version 1 holds every bucket. Returns the version."""
    if os.path.isdir(table_path):
        shutil.rmtree(table_path)
    data_dir = _write_data_version(
        _bucketed(df, key, n_buckets), table_path, 1, key, n_buckets
    )
    present = _buckets_on_disk(table_path, data_dir)
    manifest = {
        "version": 1,
        "key": key,
        "n_buckets": n_buckets,
        "buckets": {str(b): data_dir for b in present},
        "rows": _dir_bucket_rows(table_path, data_dir),
        "columns": {
            f.name: f.dataType.simpleString() for f in df.schema.fields
        },
    }
    _commit(table_path, manifest, 1)
    return 1


def _dir_bucket_rows(table_path: str, data_dir: str) -> dict[str, int]:
    """Per-bucket row counts of one data dir from parquet FOOTERS only —
    O(files) metadata reads, no Spark job, no data pages touched."""
    import pyarrow.parquet as pq

    root = os.path.join(table_path, data_dir)
    rows: dict[str, int] = {}
    for name in os.listdir(root):
        if not name.startswith("bucket="):
            continue
        b = name.split("=", 1)[1]
        n = 0
        bdir = os.path.join(root, name)
        for f in os.listdir(bdir):
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(bdir, f)).metadata.num_rows
        rows[b] = n
    return rows


def snapshot_rowcount(table_path: str, version: int | None = None) -> int:
    """count(*) as of a version, answered from manifest statistics alone
    — no Spark job, no file reads. At 100 TB this is the difference
    between a full scan and a JSON lookup. Falls back to footer reads
    for manifests written before row stats existed."""
    manifest = read_manifest(table_path, version)
    rows = manifest.get("rows")
    if rows is not None:
        return sum(rows.get(b, 0) for b in manifest["buckets"])
    by_dir: dict[str, list[str]] = {}
    for b, d in manifest["buckets"].items():
        by_dir.setdefault(d, []).append(b)
    total = 0
    for d, bs in by_dir.items():
        counts = _dir_bucket_rows(table_path, d)
        total += sum(counts.get(b, 0) for b in bs)
    return total


def _dir_version(data_dir: str) -> int:
    """The commit version that wrote ``data_dir`` (encoded in its name:
    ``data_v1`` or ``data_v{N}_{token}``) — the schema ERA of its files."""
    return int(data_dir.split("_")[1][1:])


def _apply_schema_log(df, dir_version: int, schema_log: list[dict]):
    """Adapt one data dir's frame to the CURRENT schema: apply, in
    order, every rename/drop committed AFTER the dir was written. A
    column dropped then re-added reads NULL from pre-drop dirs (the
    drop entry removes the old lineage's column here; the union's
    null-fill supplies the new lineage) — the Iceberg field-id behavior
    derived from the append-only log instead of per-column ids."""
    for e in schema_log:
        if e["v"] <= dir_version:
            continue
        if e["op"] == "rename" and e["from"] in df.columns:
            df = df.withColumnRenamed(e["from"], e["to"])
        elif e["op"] == "drop" and e["col"] in df.columns:
            df = df.drop(e["col"])
    return df


def file_column_of(
    col: str, dir_version: int, schema_log: list[dict]
) -> str | None:
    """The FILE-era name of current column ``col`` inside a dir written
    at ``dir_version`` — the inverse walk of _apply_schema_log, for
    readers that open parquet directly (plans/point_read). None when
    the column's lineage did not exist in that era (added, or re-added
    after a drop): such a column reads NULL from that dir."""
    name = col
    for e in sorted(
        (e for e in schema_log if e["v"] > dir_version),
        key=lambda e: e["v"],
        reverse=True,
    ):
        if e["op"] == "rename" and e["to"] == name:
            name = e["from"]
        elif e["op"] == "drop" and e["col"] == name:
            return None
    return name


def rename_column(table_path: str, old: str, new: str) -> int:
    """METADATA-ONLY column rename — one manifest commit, zero data
    rewritten (a 100 TB table renames in milliseconds). Readers adapt
    old dirs through the manifest's append-only schema log; old
    snapshots keep their old names (time travel reads version K with
    version K's schema). The primary key and clustered columns follow
    the rename. Secondary indexes / views created over the old name
    keep their recorded spec — recreate them after renaming an indexed
    column."""
    manifest = _writer_manifest(table_path)
    cols = dict(manifest.get("columns") or {})
    if old not in cols:
        raise ValueError(f"no column {old!r} (have {sorted(cols)})")
    if new in cols:
        raise ValueError(f"column {new!r} already exists")
    new_version = manifest["version"] + 1
    manifest = dict(manifest)
    manifest["version"] = new_version
    manifest["columns"] = {
        (new if c == old else c): t for c, t in cols.items()
    }
    if manifest.get("key") == old:
        manifest["key"] = new
    clustered = manifest.get("clustered")
    if clustered and old in clustered.get("cols", []):
        manifest["clustered"] = {
            **clustered,
            "cols": [new if c == old else c for c in clustered["cols"]],
        }
    manifest["schema_log"] = manifest.get("schema_log", []) + [
        {"v": new_version, "op": "rename", "from": old, "to": new}
    ]
    _commit(table_path, manifest, new_version)
    return new_version


def drop_column(table_path: str, col: str) -> int:
    """METADATA-ONLY column drop — one manifest commit, zero data
    rewritten; the bytes stay in old files but every reader of this and
    later versions projects them away (Iceberg drop semantics). Old
    snapshots still show the column. A later schema-evolving merge may
    re-add the name: pre-drop dirs then read NULL for it (new lineage),
    never the dropped bytes. The primary key cannot be dropped."""
    manifest = _writer_manifest(table_path)
    cols = dict(manifest.get("columns") or {})
    if col not in cols:
        raise ValueError(f"no column {col!r} (have {sorted(cols)})")
    if manifest.get("key") == col:
        raise ValueError(f"cannot drop the primary key {col!r}")
    clustered = manifest.get("clustered")
    if clustered and col in clustered.get("cols", []):
        raise ValueError(
            f"column {col!r} is in the clustered order "
            f"{clustered['cols']}; re-OPTIMIZE before dropping"
        )
    new_version = manifest["version"] + 1
    manifest = dict(manifest)
    manifest["version"] = new_version
    manifest["columns"] = {c: t for c, t in cols.items() if c != col}
    manifest["schema_log"] = manifest.get("schema_log", []) + [
        {"v": new_version, "op": "drop", "col": col}
    ]
    _commit(table_path, manifest, new_version)
    return new_version


def _buckets_on_disk(table_path: str, data_dir: str) -> list[int]:
    root = os.path.join(table_path, data_dir)
    out = []
    for name in os.listdir(root):
        if name.startswith("bucket="):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def read_snapshot(
    spark: SparkSession,
    table_path: str,
    version: int | None = None,
    *,
    only_buckets: list[int] | None = None,
) -> DataFrame:
    """Read the table as of ``version`` (default: current). Groups the
    manifest's buckets by their data dir and reads each dir once with the
    wanted buckets as a partition-column filter — partition pruning keeps
    unwanted (superseded) buckets unread, so a snapshot read costs exactly
    its own live files regardless of how many versions exist.
    ``only_buckets`` narrows the manifest before any dir is listed (point
    reads / delta folds touch one or a few buckets of potentially many
    dirs)."""
    manifest = read_manifest(table_path, version)
    schema_log = manifest.get("schema_log", [])
    by_dir: dict[str, list[int]] = {}
    keep = (
        None if only_buckets is None else {str(b) for b in only_buckets}
    )
    for b, d in manifest["buckets"].items():
        if keep is not None and b not in keep:
            continue
        by_dir.setdefault(d, []).append(int(b))
    if not by_dir:
        # every row deleted: keep the snapshot READABLE-EMPTY with v1's
        # schema (v1 data dirs are immutable and never removed)
        full = os.path.join(table_path, "data_v1")
        empty = read_parquet(spark, full, base_path=full).limit(0)
        return _apply_schema_log(empty, 1, schema_log)
    parts = []
    n_wanted = sum(len(bs) for bs in by_dir.values())
    if (
        keep is not None
        and n_wanted <= _DIRECT_READ_MAX
        and n_wanted * 4 <= len(manifest["buckets"])
    ):
        # SPARSE bucket set (point/posting reads): open each wanted
        # bucket DIRECTORY directly — the basePath form below would list
        # every sibling bucket dir before partition-pruning them away,
        # an O(total buckets) listing that at 640 buckets dominated the
        # whole lookup (the key_lookup lesson, applied to multi-bucket
        # reads). Dense sets (a big fraction of a small table) keep the
        # single-listing form: N separate scan nodes plan slower than
        # one cheap listing.
        for d, buckets in sorted(by_dir.items()):
            for b in sorted(buckets):
                one = read_parquet(
                    spark, os.path.join(table_path, d, f"bucket={b}")
                ).withColumn("bucket", F.lit(b).cast("int"))
                parts.append(
                    _apply_schema_log(one, _dir_version(d), schema_log)
                )
    else:
        for d, buckets in sorted(by_dir.items()):
            full = os.path.join(table_path, d)
            part = read_parquet(spark, full, base_path=full).filter(
                F.col("bucket").isin(buckets)
            )
            # renames/drops committed after this dir was written adapt
            # its files to the CURRENT schema — metadata-only evolution
            parts.append(
                _apply_schema_log(part, _dir_version(d), schema_log)
            )
    out = parts[0]
    for p in parts[1:]:
        # allowMissingColumns: after a schema-evolving merge, untouched
        # buckets still live in pre-evolution dirs — their missing columns
        # read as NULL, which is exactly the evolved value of those rows
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def _typed_key_pred(df: DataFrame, col: str, values: list):
    """Equality/IN predicate on the key column that parquet can PUSH
    DOWN: convert the (possibly stringified) values to the column's
    native python type so the comparison needs no cast on the column —
    a cast disables the row-group min/max pruning that the key-sorted
    files exist for. Falls back to a string-cast compare when a value
    does not parse as the column's type."""
    dt = df.schema[col].dataType.simpleString()
    conv = None
    if dt in ("bigint", "int", "smallint", "tinyint"):
        conv = int
    elif dt in ("float", "double"):
        conv = float
    elif dt == "string":
        conv = str
    if conv is not None:
        try:
            typed = [conv(v) for v in values]
        except (TypeError, ValueError):
            conv = None
        else:
            return F.col(col).isin(typed)
    svals = [str(v) for v in values]
    return F.col(col).cast("string").isin(svals)


def _route_bucket(spark: SparkSession, key_value, n_buckets: int) -> int:
    """The bucket ``key_value`` hashes into, resolved DRIVER-LOCALLY
    (functions/spark_hash mirrors F.xxhash64 bit-exactly, property-tested)
    — a point read must not pay a whole Spark job just to learn which
    directory to open (the job-scheduling overhead dominated the
    174-188 ms p50 the round-10 probe measured). Types whose Spark
    string cast the mirror can't reproduce (floats, timestamps) fall
    back to the one-row Spark job."""
    from ..functions.spark_hash import bucket_of, spark_string_of

    try:
        return bucket_of(spark_string_of(key_value), n_buckets)
    except TypeError:
        return (
            spark.range(1)
            .select(
                F.pmod(
                    F.xxhash64(F.lit(key_value).cast("string")),
                    F.lit(n_buckets),
                )
                .cast("int")
                .alias("b")
            )
            .first()["b"]
        )


def key_lookup(
    spark: SparkSession,
    table_path: str,
    key_value,
    version: int | None = None,
) -> DataFrame:
    """O(one bucket) point read: hash the key to its bucket with the
    SAME expression the writer used (xxhash64 over the string cast) and
    scan only that bucket's partition dir — at any table size the read
    touches 1/n_buckets of the data, and time travel rides the same
    manifest. Equality is checked on the string cast, mirroring the
    bucketing hash, so the lookup is consistent for every key type the
    writer accepted."""
    manifest = read_manifest(table_path, version)
    key, nb = manifest["key"], manifest["n_buckets"]
    b = _route_bucket(spark, key_value, nb)
    d = manifest["buckets"].get(str(b))
    if d is None:  # bucket fully deleted: readable-empty, right schema
        snap = read_snapshot(spark, table_path, version)
        return (
            snap.filter(_typed_key_pred(snap, key, [key_value]))
            .limit(0)
            .drop("bucket")
        )
    # read the ONE bucket directory directly — no basePath, so Spark
    # never lists the sibling bucket dirs (file discovery would
    # otherwise ride the table's total file count, which is exactly
    # what a point read must not do); the typed equality pushes to the
    # scan, so the key-sorted row groups inside the file prune too
    one = read_parquet(spark, os.path.join(table_path, d, f"bucket={b}"))
    one = _apply_schema_log(
        one, _dir_version(d), manifest.get("schema_log", [])
    )
    one = one.filter(_typed_key_pred(one, key, [key_value]))
    # align to the manifest-recorded CURRENT schema: after a
    # schema-evolving merge an untouched bucket's files lack the new
    # columns — null-fill them so the point read's shape never depends
    # on which bucket the key hashed into (metadata-only, no listing)
    cols = manifest.get("columns")
    if cols:
        for c, t in cols.items():
            if c not in one.columns:
                one = one.withColumn(c, F.lit(None).cast(t))
        one = one.select(*cols.keys())
    return one


class ExpectationError(ValueError):
    """A merge source violated table expectations (on_violation='fail').
    Carries per-rule violation counts in ``metrics``."""

    def __init__(self, msg: str, metrics: dict):
        super().__init__(msg)
        self.metrics = metrics


def merge_into(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    *,
    delete_col: str | None = None,
    max_retries: int = 0,
    schema_evolution: bool = False,
    batch_key: str | None = None,
    expectations: list[tuple[str, str]] | None = None,
    on_violation: str = "fail",
) -> int:
    """MERGE source INTO table ON key:

      matched  + source[delete_col]      -> row removed
      matched  + not delete              -> row replaced by the source row
      not matched (source only)          -> row inserted
      not matched (target only)          -> row kept as-is

    ``source`` must carry the target's full schema (minus ``bucket``) plus
    the optional boolean ``delete_col``. Returns the new version.

    Only the buckets the source hashes into are read or rewritten; the new
    manifest points every untouched bucket at its existing immutable file.

    Concurrency: commits are optimistic — losing a version race raises
    ConcurrentCommitError. With ``max_retries`` > 0 the merge re-derives
    itself against the winner's snapshot and re-commits (correct because
    the merge is defined against whatever snapshot it reads; the source
    rows are unchanged).

    Schema evolution: with ``schema_evolution=True`` a source may carry
    columns the table lacks — they join the schema ADD-ONLY (no drops, no
    type changes). Pre-existing rows read the new columns as NULL without
    any rewrite: untouched buckets stay in their pre-evolution files and
    read_snapshot null-fills on union, so evolving a 100 TB table costs
    only the touched buckets. Old snapshots keep their old schema.

    ``batch_key`` makes the merge EXACTLY-ONCE under at-least-once
    delivery (e.g. a CDC batch replayed after a crash): the key is
    recorded inside the same atomic manifest commit that makes the merge
    visible, so a replay whose merge already landed is a no-op (same
    protocol as ivm_apply).

    ``expectations``: Delta-style CHECK constraints on the WRITTEN rows
    — [(rule name, SQL predicate a good row satisfies)], evaluated over
    the non-delete source rows (plans/expectations, scan-speed column
    expressions). ``on_violation='fail'`` (the Delta CHECK semantic)
    raises ExpectationError with per-rule counts and commits NOTHING;
    ``'drop'`` merges only the clean rows (delete rows always pass
    through — they remove data, they don't write it).
    """
    if on_violation not in ("fail", "drop"):
        # validated up front, not lazily at the first violation — a typo
        # like 'quarantine' must fail on the FIRST merge, not weeks later
        # in production when the first bad row finally arrives
        raise ValueError(
            f"on_violation must be 'fail' or 'drop', got {on_violation!r}"
        )
    if expectations:
        from .expectations import apply_expectations

        data = source
        deletes = None
        if delete_col is not None:
            flag = F.coalesce(F.col(delete_col), F.lit(False))
            data = source.filter(~flag)
            deletes = source.filter(flag)
        clean, _quarantine, metrics_df = apply_expectations(
            data, expectations
        )
        metrics = metrics_df.first().asDict()
        n_bad = metrics["rows"] - metrics["clean_rows"]
        if n_bad:
            if on_violation == "fail":
                raise ExpectationError(
                    f"merge source violates expectations ({n_bad} of "
                    f"{metrics['rows']} rows): "
                    + ", ".join(
                        f"{k[5:]}={v}"
                        for k, v in metrics.items()
                        if k.startswith("viol_") and v
                    ),
                    metrics,
                )
            source = (
                clean.unionByName(deletes) if deletes is not None else clean
            )
    for _ in range(max_retries):
        try:
            return _merge_once(
                spark, table_path, source, delete_col, schema_evolution,
                batch_key,
            )
        except ConcurrentCommitError:
            # two causes: a live writer won the race (CURRENT already
            # points at the winner — re-deriving is enough), or a PRIOR
            # writer crashed between publishing its manifest and flipping
            # CURRENT (re-deriving from the same stale CURRENT would
            # livelock). repair_current rolls the pointer forward in the
            # second case and no-ops in the first.
            repair_current(table_path)
            continue
    return _merge_once(
        spark, table_path, source, delete_col, schema_evolution, batch_key
    )


def _merge_once(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    delete_col: str | None,
    schema_evolution: bool = False,
    batch_key: str | None = None,
) -> int:
    manifest = _writer_manifest(table_path)
    applied = manifest.get("applied", [])
    if batch_key is not None and batch_key in applied:
        return manifest["version"]
    key, nb = manifest["key"], manifest["n_buckets"]
    new_version = manifest["version"] + 1

    src = _bucketed(source, key, nb)
    # ONE delta-sized pass yields the touched-bucket set AND the key
    # sanity stats: a source with duplicate keys would fan out the
    # full-outer join and silently write duplicate rows (Delta's MERGE
    # raises on multiple matches — so do we); a NULL key has no bucket
    # identity.
    stats = src.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("_n"),
        F.count(key).alias("_nk"),
        F.countDistinct(key).alias("_nd"),
    ).collect()
    n_rows = sum(r["_n"] for r in stats)
    n_keys = sum(r["_nk"] for r in stats)
    n_distinct = sum(r["_nd"] for r in stats)
    if n_keys < n_rows:
        raise ValueError(
            f"merge source carries {n_rows - n_keys} NULL {key!r} key(s); "
            "a MERGE key must be non-null"
        )
    if n_distinct < n_keys:
        raise ValueError(
            f"merge source carries duplicate {key!r} keys "
            f"({n_keys} rows, {n_distinct} distinct): a MERGE source must "
            "be unique per key (collapse duplicates first, e.g. keep the "
            "last row per key for last-write-wins)"
        )
    touched = sorted(r["bucket"] for r in stats)
    if not touched:
        _commit(
            table_path,
            {
                **manifest,
                "version": new_version,
                "applied": _trim_applied(applied + ([batch_key] if batch_key else [])),
            },
            new_version,
        )
        return new_version

    target = read_snapshot(spark, table_path).filter(
        F.col("bucket").isin(touched)
    )

    src_data_cols = [
        c for c in source.columns if c != delete_col and c != "bucket"
    ]
    new_cols = [c for c in src_data_cols if c not in target.columns]
    if new_cols:
        if not schema_evolution:
            raise ValueError(
                f"source columns {new_cols} not in table schema; pass "
                "schema_evolution=True to add them"
            )
        for c in new_cols:
            target = target.withColumn(
                c, F.lit(None).cast(source.schema[c].dataType)
            )

    data_cols = [c for c in target.columns if c != "bucket"]
    del_flag = (
        F.coalesce(F.col(f"s.{delete_col}"), F.lit(False))
        if delete_col
        else F.lit(False)
    )
    merged = (
        target.alias("t")
        .join(
            src.alias("s"),
            F.col(f"t.{key}") == F.col(f"s.{key}"),
            "full_outer",
        )
        # matched-and-deleted rows drop out here; a matched source row
        # replaces the target row WHOLESALE (not column-coalesced: an
        # update that sets a column to NULL must stick)
        .filter(F.col(f"s.{key}").isNull() | ~del_flag)
        .select(
            *[
                F.when(
                    F.col(f"s.{key}").isNotNull(), F.col(f"s.{c}")
                ).otherwise(F.col(f"t.{c}")).alias(c)
                for c in data_cols
            ],
            F.coalesce(F.col("s.bucket"), F.col("t.bucket")).alias("bucket"),
        )
    )

    # a clustered table's merge rewrites its touched buckets IN THE
    # CLUSTER ORDER (same rule as compact_snapshots), so the carried
    # `clustered` marker keeps telling the truth about row-group layout
    # — otherwise a merge racing an OPTIMIZE would silently degrade the
    # optimizer's clustering in every bucket it touches
    clustered = manifest.get("clustered")
    order_by, drop_after = None, ()
    if clustered:
        if clustered["curve"] == "linear":
            order_by = list(clustered["cols"])
        else:
            from .zorder import ZKEY, with_zorder_key

            merged = with_zorder_key(
                merged, clustered["cols"], curve=clustered["curve"]
            )
            order_by, drop_after = [ZKEY], (ZKEY,)
    data_dir = _write_data_version(
        merged, table_path, new_version, key, len(touched),
        order_by=order_by, drop_after_sort=drop_after,
    )
    present = set(_buckets_on_disk(table_path, data_dir))
    buckets = dict(manifest["buckets"])
    rows = dict(manifest.get("rows", {}))
    new_rows = _dir_bucket_rows(table_path, data_dir)
    for b in touched:
        if b in present:
            buckets[str(b)] = data_dir
            rows[str(b)] = new_rows.get(str(b), 0)
        else:
            # the merge deleted the bucket's last row
            buckets.pop(str(b), None)
            rows.pop(str(b), None)
    _commit(
        table_path,
        {
            "version": new_version,
            "key": key,
            "n_buckets": nb,
            "buckets": buckets,
            "rows": rows,
            **({"clustered": clustered} if clustered else {}),
            **(
                {"schema_log": manifest["schema_log"]}
                if manifest.get("schema_log")
                else {}
            ),
            # the CURRENT data schema: single-dir readers (key_lookup)
            # null-fill evolved columns from this, metadata-only
            # (drop_after covers the transient z-order key column)
            "columns": {
                f.name: f.dataType.simpleString()
                for f in merged.schema.fields
                if f.name != "bucket" and f.name not in drop_after
            },
            "applied": _trim_applied(applied + ([batch_key] if batch_key else [])),
        },
        new_version,
    )
    return new_version


def read_changes(
    spark: SparkSession,
    table_path: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Change data feed: the NET row-level diff between two snapshots, as
    rows tagged ``_change_type`` in (insert, delete, update_preimage,
    update_postimage) — the Delta/Iceberg CDF surface, derived from the
    snapshot manifests instead of a commit log.

    Semantics are snapshot-diff (Iceberg's "net changes"), not log replay:
    a row updated then deleted between the two versions surfaces once, as
    a delete of the from-version image; intermediate states are invisible.

    Scale posture: the manifest diff names exactly the buckets whose data
    pointer moved, so both snapshot reads prune to the touched buckets
    before any parquet is opened — cost rides the churned buckets, never
    the table. Carried-over rows inside a rewritten bucket (merge rewrites
    whole buckets) are dropped by a null-safe all-column comparison, in
    ONE full-outer join pass: classification builds an array of change
    structs per joined key and explodes it, so the join is not re-run per
    change type.
    """
    m0 = read_manifest(table_path, from_version)
    m1 = read_manifest(table_path, to_version)
    key = m1["key"]
    b0, b1 = m0["buckets"], m1["buckets"]
    changed = sorted(
        int(b) for b in set(b0) | set(b1) if b0.get(b) != b1.get(b)
    )
    # schema-anchor on the TO version: after a schema-evolving merge the
    # old side lacks the new columns — null-fill them so the comparison
    # sees evolution-NULLs as unchanged and update images carry the full
    # evolved schema
    anchor = read_snapshot(spark, table_path, to_version)
    data_cols = [c for c in anchor.columns if c != "bucket"]
    if not changed:
        return (
            anchor.limit(0)
            .select(F.lit("insert").alias("_change_type"), *data_cols)
            .limit(0)
        )
    old = read_snapshot(spark, table_path, from_version).filter(
        F.col("bucket").isin(changed)
    )
    # the diff compares under the TO version's schema: renames/drops
    # committed in (from, to] re-map the whole old snapshot (era =
    # from_version), so a pure rename yields no row changes and update
    # images carry the current names
    old = _apply_schema_log(
        old, from_version, m1.get("schema_log", [])
    )
    for c in data_cols:
        if c not in old.columns:
            old = old.withColumn(c, F.lit(None).cast(anchor.schema[c].dataType))
    old = old.alias("o")
    new = anchor.filter(F.col("bucket").isin(changed)).alias("n")

    def img(side: str, tag: str):
        return F.struct(
            F.lit(tag).alias("_change_type"),
            *[F.col(f"{side}.{c}").alias(c) for c in data_cols],
        )

    same_row = F.lit(True)
    for c in data_cols:
        same_row = same_row & F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}"))
    changes = (
        old.join(new, F.col(f"o.{key}") == F.col(f"n.{key}"), "full_outer")
        .select(
            F.when(
                F.col(f"o.{key}").isNull(), F.array(img("n", "insert"))
            )
            .when(F.col(f"n.{key}").isNull(), F.array(img("o", "delete")))
            .when(
                ~same_row,
                F.array(
                    img("o", "update_preimage"), img("n", "update_postimage")
                ),
            )
            .otherwise(F.array().cast(
                f"array<struct<_change_type:string,{','.join(f'`{c}`:{anchor.schema[c].dataType.simpleString()}' for c in data_cols)}>>"
            ))
            .alias("ch")
        )
        .select(F.explode("ch").alias("c"))
        .select("c.*")
    )
    return changes


def compact_snapshots(
    spark: SparkSession,
    table_path: str,
    *,
    max_dirs: int = 1,
    inflight_grace: float | None = None,
) -> int | None:
    """Rewrite the CURRENT snapshot into one fresh data version when its
    live files are scattered across more than ``max_dirs`` data dirs —
    the snapshot-table face of S9 compaction (plans/ingest.compact_chunks):
    a long merge history leaves each bucket's live file in a different
    dir, and scan-side file listing plus lost bucket-locality eventually
    costs more than one rewrite. Time travel is untouched: old manifests
    keep pointing at the old dirs until `vacuum` retires them.

    Returns the new version, or None when already compact (no job runs).

    ``inflight_grace``: the maintenance posture (see repair_current) —
    the opening heal defers a young undecided transaction instead of
    aborting its healthy coordinator; the compaction then either loses
    the version race to the prepared manifest (ConcurrentCommitError,
    the cron caller skips this cycle) or proceeds normally.
    """
    if inflight_grace is not None:
        repair_current(table_path, inflight_grace=inflight_grace)
        try:
            manifest = read_manifest(table_path)
        except FileNotFoundError:
            # a table whose FIRST-ever commit is a deferred young txn has
            # manifests but no CURRENT: nothing committed to compact, and
            # the cron pass must keep going (vacuum still runs)
            return None
        versions = list_versions(table_path)
        if versions and versions[-1] > manifest["version"]:
            # a deferred prepared manifest already holds the next version
            # number: the rewrite would be a guaranteed O(table) job
            # thrown away at the O_EXCL collision — skip this cycle for
            # the cost of the directory listing the heal already did
            return None
    else:
        manifest = _writer_manifest(table_path)
    if len(set(manifest["buckets"].values())) <= max_dirs:
        return None
    key, nb = manifest["key"], manifest["n_buckets"]
    new_version = manifest["version"] + 1
    live = read_snapshot(spark, table_path)
    # a clustered table compacts IN ITS CLUSTERED ORDER — otherwise the
    # carried-forward `clustered` marker would lie about the row-group
    # layout the rewrite just destroyed
    clustered = manifest.get("clustered")
    order_by, drop_after = None, ()
    if clustered:
        if clustered["curve"] == "linear":
            order_by = list(clustered["cols"])
        else:
            from .zorder import ZKEY, with_zorder_key

            live = with_zorder_key(
                live, clustered["cols"], curve=clustered["curve"]
            )
            order_by, drop_after = [ZKEY], (ZKEY,)
    data_dir = _write_data_version(
        live, table_path, new_version, key, nb,
        order_by=order_by, drop_after_sort=drop_after,
    )
    buckets = {str(b): data_dir for b in _buckets_on_disk(table_path, data_dir)}
    _commit(
        table_path,
        {
            **manifest,
            "version": new_version,
            "buckets": buckets,
            "rows": _dir_bucket_rows(table_path, data_dir),
        },
        new_version,
    )
    return new_version


def optimize_table(
    spark: SparkSession,
    table_path: str,
    cluster_cols: list[str],
    *,
    curve: str = "linear",
    bits: int = 8,
    max_records_per_file: int | None = None,
) -> int:
    """Clustered compaction — the snapshot-table ``OPTIMIZE ... ZORDER
    BY`` verb. Rewrites the CURRENT snapshot into one data dir with rows
    ordered INSIDE each bucket by ``cluster_cols`` ('linear':
    lexicographic; 'morton'/'hilbert': a space-filling key from
    plans/zorder, multi-dimensional locality), so parquet row-group
    min/max stats prune within-bucket scans on the clustered columns —
    the within-bucket complement to bucket pruning, and at 100 TB the
    difference between reading a bucket and reading the row groups a
    time-range actually touches. ``max_records_per_file`` additionally
    splits each bucket into several files, each covering a narrow
    cluster range (file-granular skipping for readers that want it).

    Trade: the within-file sort by the primary key is replaced by the
    cluster order, so point reads keep their bucket pruning but lose
    key-sorted row-group locality inside the rewritten files. Time
    travel is untouched; old manifests keep the old dirs until vacuum.
    The commit records the clustering under ``clustered``."""
    manifest = _writer_manifest(table_path)
    key, nb = manifest["key"], manifest["n_buckets"]
    new_version = manifest["version"] + 1
    live = read_snapshot(spark, table_path)
    order_by, drop_after = list(cluster_cols), ()
    if curve != "linear":
        from .zorder import ZKEY, with_zorder_key

        live = with_zorder_key(live, cluster_cols, bits=bits, curve=curve)
        order_by, drop_after = [ZKEY], (ZKEY,)
    data_dir = _write_data_version(
        live, table_path, new_version, key, nb,
        order_by=order_by, drop_after_sort=drop_after,
        max_records_per_file=max_records_per_file,
    )
    buckets = {str(b): data_dir for b in _buckets_on_disk(table_path, data_dir)}
    _commit(
        table_path,
        {
            **manifest,
            "version": new_version,
            "buckets": buckets,
            "rows": _dir_bucket_rows(table_path, data_dir),
            "clustered": {"cols": list(cluster_cols), "curve": curve},
        },
        new_version,
    )
    return new_version


def table_status(table_path: str) -> dict:
    """Metadata-only health summary of a snapshot table (no Spark job):
    version span, live-bucket count, how many data dirs the CURRENT
    snapshot spans (compaction signal), and orphan dirs no retained
    manifest references (vacuum signal — crashed or lost-race writers)."""
    versions = list_versions(table_path)
    cur = current_version(table_path)
    manifest = read_manifest(table_path, cur)
    referenced = {"data_v1"}
    for v in versions:
        referenced.update(read_manifest(table_path, v)["buckets"].values())
    on_disk = {
        n for n in os.listdir(table_path) if n.startswith("data_v")
    }
    live_dirs = set(manifest["buckets"].values())
    return {
        "current_version": cur,
        "versions": len(versions),
        "rows": snapshot_rowcount(table_path, cur),
        "oldest_version": versions[0] if versions else None,
        "key": manifest["key"],
        "n_buckets": manifest["n_buckets"],
        "live_buckets": len(manifest["buckets"]),
        "current_data_dirs": len(live_dirs),
        "needs_compaction": len(live_dirs) > 1,
        "orphan_dirs": sorted(on_disk - referenced),
        "clustered": manifest.get("clustered"),
    }


def rebucket(
    spark: SparkSession, table_path: str, new_n_buckets: int
) -> int:
    """Re-hash the table into a new bucket count as one snapshot commit
    — the partition-evolution verb. A table sized for its creation-day
    volume outgrows its buckets at 100 TB scale (the constant-bytes-per-
    bucket rule wants buckets ∝ rows); because every manifest records
    its OWN n_buckets, old versions stay time-travelable against the old
    layout while later merges hash into the new one.

    This is necessarily one full rewrite (every row changes bucket) —
    the one table-sized cost in the lifecycle, paid on demand instead of
    per-merge. Replay-dedup keys carry over, so an in-flight streaming
    sink keeps its exactly-once guarantee across the rebucket. A
    read_changes pair spanning the boundary degrades to a full-table
    comparison (every bucket pointer moved) and correctly reports no
    changes for untouched rows."""
    manifest = _writer_manifest(table_path)
    key = manifest["key"]
    new_version = manifest["version"] + 1
    live = _bucketed(
        read_snapshot(spark, table_path).drop("bucket"), key, new_n_buckets
    )
    data_dir = _write_data_version(
        live, table_path, new_version, key, new_n_buckets
    )
    _commit(
        table_path,
        {
            "version": new_version,
            "key": key,
            "n_buckets": new_n_buckets,
            "buckets": {
                str(b): data_dir
                for b in _buckets_on_disk(table_path, data_dir)
            },
            "rows": _dir_bucket_rows(table_path, data_dir),
            "columns": {
                f.name: f.dataType.simpleString()
                for f in live.schema.fields
                if f.name != "bucket"
            },
            "applied": manifest.get("applied", []),
            # the rewrite materialized the CURRENT schema into the new
            # dir, but TIME TRAVEL to pre-rebucket versions still walks
            # this table's history — keep the log
            **(
                {"schema_log": manifest["schema_log"]}
                if manifest.get("schema_log")
                else {}
            ),
        },
        new_version,
    )
    return new_version


def vacuum(
    table_path: str,
    *,
    keep_versions: int = 2,
    grace_seconds: float = 600.0,
    protect_consumers: list[str] | None = None,
    protect_savepoints: str | None = None,
) -> list[str]:
    """Retire history: drop every manifest older than the newest
    ``keep_versions`` and every data dir no RETAINED manifest references.
    Returns the removed data dirs.

    ``grace_seconds`` (Delta-style retention grace): an unreferenced dir
    YOUNGER than the grace window is kept — it may belong to an in-flight
    concurrent merge that has written its data (_write_data_version runs
    before _commit) but not yet published its manifest; removing it would
    let that merge commit pointers to deleted files, a silently corrupted
    snapshot. Pass 0 only when no writer can be in flight.

    ``protect_consumers``: paths of changefeed views / secondary indexes
    maintained FROM this table. Their next sync reads
    read_changes(cursor, ...), which needs every manifest from the
    cursor forward — vacuum additionally retains those versions, so a
    lagging consumer can never be stranded by retention (the failure
    mode the changefeed docstring could previously only warn about).

    ``protect_savepoints``: a plans/savepoint root; every version of
    this table any savepoint under it pins is retained, so
    dataset-versioning pins (the versions training runs recorded)
    survive retention by construction.

    The sweep is metadata-only (manifest JSON reads + directory removes)
    — no Spark job, O(versions + dirs) regardless of table size. CURRENT
    is never touched, and data_v1 survives even when unreferenced: it is
    the schema anchor empty snapshots read (read_snapshot's empty guard).
    Orphan manifest tmp files past the grace window are swept too.
    """
    import time

    versions = list_versions(table_path)
    retained = versions[-keep_versions:] if keep_versions > 0 else versions[-1:]
    cur = current_version(table_path)
    if cur not in retained:
        retained.append(cur)
    if protect_consumers:
        from .changefeed import _cursor_state

        floors = []
        for view in protect_consumers:
            cursor, pending = _cursor_state(view)
            # a half-applied range replays from its START version
            floors.append(pending[0] if pending else (cursor or 0))
        floor = min(floors)
        retained.extend(v for v in versions if v >= floor and v not in retained)
    if protect_savepoints is not None:
        # savepoint pins (plans/savepoint): every version any savepoint
        # under the root still pins stays readable — data-versioning
        # pins survive retention by construction
        from .savepoint import list_savepoints, load_savepoint

        key = os.path.abspath(table_path)
        for n in list_savepoints(protect_savepoints):
            pin = load_savepoint(protect_savepoints, n)["tables"].get(key)
            if pin is not None and pin in versions and pin not in retained:
                retained.append(pin)
    referenced = {"data_v1"}
    for v in retained:
        referenced.update(read_manifest(table_path, v)["buckets"].values())
    now = time.time()

    def _young(path: str) -> bool:
        try:
            return now - os.path.getmtime(path) < grace_seconds
        except OSError:
            return True  # vanished mid-sweep: leave it to the next pass
    removed = []
    for name in sorted(os.listdir(table_path)):
        full = os.path.join(table_path, name)
        if name.startswith("data_v") and name not in referenced:
            if _young(full):
                continue
            shutil.rmtree(full)
            removed.append(name)
    for v in versions:
        if v not in retained:
            os.remove(_snap_path(table_path, v))
    snap_dir = os.path.join(table_path, _SNAP_DIR)
    for name in os.listdir(snap_dir):
        full = os.path.join(snap_dir, name)
        if (
            (name.startswith(".v") or name.startswith(".CURRENT."))
            and name.endswith(".tmp")
            and not _young(full)
        ):
            try:
                os.unlink(full)
            except OSError:
                pass
    return removed
