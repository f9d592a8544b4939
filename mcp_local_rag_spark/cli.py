"""Command-line surface over RagEngine — the reference's CLI subcommands
(src/cli/: ingest, query, list, delete, status, sync, read-neighbors)
re-expressed as one argparse entry point, plus ``serve`` for the stdio
JSON-RPC adapter.

Output contract: one JSON document per result on stdout (the reference's
JSON-output subcommands behave the same; human-facing notes go to
stderr), so the CLI composes with shell pipelines. The engine/table
location comes from ``--table`` or $SPARK_RAG_TABLE.

Testability: ``run(argv, engine, out)`` is pure given an engine —
tests drive it in-process; ``main()`` only assembles the session.
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="mcp_local_rag_spark",
        description="PySpark RAG engine CLI (reference tool surface)",
    )
    p.add_argument(
        "--table",
        default=os.environ.get("SPARK_RAG_TABLE"),
        help="chunks table path (or $SPARK_RAG_TABLE)",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="ingest a file or directory")
    ing.add_argument("path")

    q = sub.add_parser("query", help="hybrid search")
    q.add_argument("text")
    q.add_argument("--limit", type=int, default=10)
    q.add_argument("--scope", action="append", default=None)
    q.add_argument("--max-distance", type=float, default=None)
    q.add_argument("--grouping", choices=["similar", "related"], default=None)

    sub.add_parser("list", help="per-document summary")
    sub.add_parser("status", help="corpus + index status")

    d = sub.add_parser("delete", help="delete a document")
    d.add_argument("path")

    s = sub.add_parser("sync", help="reconcile a directory into the table")
    s.add_argument("path")

    ss = sub.add_parser(
        "sync-shards", help="reconcile a WebDataset shard drop directory"
    )
    ss.add_argument("path")
    ss.add_argument("--pattern", default="*.tar*")

    rp = sub.add_parser(
        "repack-shards",
        help="merge sparse/small shards' live samples into full new "
             "shards (crash-recoverable; samples are re-keyed, so run "
             "between epochs)",
    )
    rp.add_argument("path")
    rp.add_argument("--pattern", default="*.tar*")
    rp.add_argument("--samples-per-shard", type=int, default=1000)
    rp.add_argument("--min-utilization", type=float, default=0.5)
    rp.add_argument(
        "--reclaim-rowless", action="store_true",
        help="also repack registered shards with ZERO live rows (by "
             "default they are skipped: indistinguishable from a crashed "
             "streaming micro-batch whose replay still needs the tar)",
    )

    ee = sub.add_parser(
        "export-epoch",
        help="materialize one seeded training epoch of a shard directory "
             "as packed-sequence WebDataset shards (exact token accounting)",
    )
    ee.add_argument("shard_dir")
    ee.add_argument("out_dir")
    ee.add_argument("--seed", type=int, default=0)
    ee.add_argument("--seq-len", type=int, default=2048)
    ee.add_argument("--buffer", type=int, default=None,
                    help="within-shard shuffle block size (None = full"
                         " within-shard shuffle)")
    ee.add_argument("--pattern", default="*.tar*")
    ee.add_argument("--tokenizer", default="whitespace",
                    choices=["whitespace", "bpe-deep"],
                    help="bpe-deep = the frozen 320-merge vocabulary"
                         " artifact (assets/vocab_deep.json)")

    nb = sub.add_parser("read-neighbors", help="neighbor frame point read")
    nb.add_argument("path")
    nb.add_argument("index", type=int)
    nb.add_argument("--before", type=int, default=2)
    nb.add_argument("--after", type=int, default=2)

    ab = sub.add_parser(
        "ann-build", help="build/refresh the chunks-corpus IVF index"
    )
    ab.add_argument("--cells", type=int, default=None,
                    help="cell count (default ~sqrt(rows))")
    ab.add_argument("--pq", action="store_true",
                    help="also train the residual-PQ codebook sidecar"
                    " (serve with quantization='pq')")
    ab.add_argument("--pq-m", type=int, default=8,
                    help="PQ subspace count (dim %% m == 0)")

    ts = sub.add_parser(
        "table-status", help="snapshot-table health (metadata-only)"
    )
    ts.add_argument("path")

    th = sub.add_parser(
        "table-history", help="snapshot versions with manifest row counts"
    )
    th.add_argument("path")

    tc = sub.add_parser(
        "table-compact", help="rewrite a scattered snapshot into one data dir"
    )
    tc.add_argument("path")
    tc.add_argument("--max-dirs", type=int, default=1,
                    help="compact when live files span more dirs than this")

    to = sub.add_parser(
        "table-optimize",
        help="clustered compaction: rewrite sorted by columns (or a"
        " z-order key) for row-group skipping",
    )
    to.add_argument("path")
    to.add_argument("columns", help="comma-separated cluster columns")
    to.add_argument("--curve", choices=["linear", "morton", "hilbert"],
                    default="linear")
    to.add_argument("--max-records-per-file", type=int, default=None)

    tv = sub.add_parser(
        "table-vacuum", help="retire old snapshot manifests + unreferenced dirs"
    )
    tv.add_argument("path")
    tv.add_argument("--keep", type=int, default=2,
                    help="manifest versions to retain")
    tv.add_argument("--grace", type=float, default=600.0,
                    help="seconds to keep young unreferenced dirs "
                         "(in-flight-writer protection)")

    sp = sub.add_parser(
        "savepoint-create",
        help="pin the CURRENT versions of several snapshot tables as one "
             "named cross-table savepoint (dataset versioning)",
    )
    sp.add_argument("root")
    sp.add_argument("name")
    sp.add_argument("tables", nargs="+")

    spl = sub.add_parser("savepoint-list", help="list savepoints under a root")
    spl.add_argument("root")

    spv = sub.add_parser(
        "savepoint-verify",
        help="check every pinned (table, version) is still readable",
    )
    spv.add_argument("root")
    spv.add_argument("name")

    trn = sub.add_parser(
        "table-rename-column",
        help="metadata-only column rename (schema log; zero data rewritten)",
    )
    trn.add_argument("path")
    trn.add_argument("old")
    trn.add_argument("new")

    tdc = sub.add_parser(
        "table-drop-column",
        help="metadata-only column drop (schema log; zero data rewritten)",
    )
    tdc.add_argument("path")
    tdc.add_argument("column")

    tr = sub.add_parser(
        "table-rebucket", help="re-hash the table into a new bucket count"
    )
    tr.add_argument("path")
    tr.add_argument("n_buckets", type=int)

    tg = sub.add_parser(
        "table-get", help="point read one key (scans a single bucket)"
    )
    tg.add_argument("path")
    tg.add_argument("key")
    tg.add_argument("--version", type=int, default=None)

    tch = sub.add_parser(
        "table-changes", help="net change feed between two snapshot versions"
    )
    tch.add_argument("path")
    tch.add_argument("from_version", type=int)
    tch.add_argument("to_version", type=int, nargs="?", default=None)
    tch.add_argument("--limit", type=int, default=1000,
                     help="max change rows emitted")

    vc = sub.add_parser(
        "view-create",
        help="bootstrap a change-feed-maintained aggregate view over a"
        " snapshot table",
    )
    vc.add_argument("source")
    vc.add_argument("view")
    vc.add_argument("--key", action="append", required=True,
                    help="group-by column (repeatable)")
    vc.add_argument("--measure", action="append", required=True,
                    help="NAME:OP[:COL] — ops: count sum min max"
                    " approx_ndv approx_topk[:K] hist (repeatable)")
    vc.add_argument("--at-version", type=int, default=None)
    vc.add_argument("--buckets", type=int, default=16)

    vs = sub.add_parser(
        "view-sync",
        help="advance a view to its source's current version via the"
        " change feed (spec recorded at view-create)",
    )
    vs.add_argument("view")
    vs.add_argument("--source", default=None,
                    help="override the recorded source table path")

    vr = sub.add_parser("view-read", help="rows of a maintained view")
    vr.add_argument("view")
    vr.add_argument("--limit", type=int, default=100)

    ic = sub.add_parser(
        "index-create",
        help="secondary index on a snapshot-table column (changefeed-"
        "maintained)",
    )
    ic.add_argument("source")
    ic.add_argument("index")
    ic.add_argument("column")
    ic.add_argument("--buckets", type=int, default=16)

    isy = sub.add_parser(
        "index-sync", help="advance a secondary index to the source's"
        " current version (O(changes))"
    )
    isy.add_argument("index")

    il = sub.add_parser(
        "index-lookup", help="source rows with column == VALUE via two"
        " point reads (no source scan)"
    )
    il.add_argument("index")
    il.add_argument("value")
    il.add_argument("--limit", type=int, default=100)
    il.add_argument("--at-source-version", type=int, default=None,
                    help="as-of lookup: time travel both sides to the"
                    " cursor-matched versions")

    tm = sub.add_parser(
        "table-maintain",
        help="one idempotent maintenance pass: heal pointer, recover "
        "transactions, compact scattered snapshots (cluster-order-"
        "preserving), vacuum under protections",
    )
    tm.add_argument("path")
    tm.add_argument("--txn-log", default=None)
    tm.add_argument("--compact-max-dirs", type=int, default=1)
    tm.add_argument("--keep", type=int, default=2)
    tm.add_argument("--grace", type=float, default=600.0)
    tm.add_argument("--protect-consumer", action="append", default=[],
                    help="changefeed view / secondary index path "
                    "(repeatable)")
    tm.add_argument("--protect-savepoints", default=None)

    ir = sub.add_parser(
        "index-recover",
        help="engine-tier crash recovery: converge the FTS postings and "
        "ANN index from the table's recorded intent (plans/engine_txn) — "
        "bounded refresh when the version chain proves the intent, full "
        "rebuild otherwise; idempotent no-op when clean",
    )

    txr = sub.add_parser(
        "txn-recover",
        help="finish or roll back every multi-table transaction in a txn "
        "log (committed -> flip CURRENTs, in-flight/aborted -> clean up)",
    )
    txr.add_argument("log", help="transaction log directory")
    txr.add_argument(
        "--grace", type=float, default=0.0,
        help="leave undecided txns younger than this many seconds alone "
        "(0 = presume every undecided coordinator dead)")
    txr.add_argument(
        "--record-retention", type=float, default=None,
        help="prune final txn records older than this many seconds once "
        "nothing can still need them (default: keep forever)")

    im = sub.add_parser(
        "ivf-maintain",
        help="IVF index maintenance loop: recover crashed splits, split "
        "drifted/overfull cells worst-first under a budget, compact "
        "fragmented cells",
    )
    im.add_argument("index", help="IVF index path")
    im.add_argument("--vec-col", default="embedding")
    im.add_argument("--split-fill-ratio", type=float, default=4.0)
    im.add_argument("--split-mean-dist", type=float, default=None)
    im.add_argument("--k", type=int, default=2, help="subcells per split")
    im.add_argument("--max-splits", type=int, default=None,
                    help="cost budget: at most this many cells split per run")
    im.add_argument("--compact-min-files", type=int, default=2)
    im.add_argument("--seed-col", default=None,
                    help="deterministic split-seed ordering column")

    srv = sub.add_parser(
        "serve", help="stdio server loop (MCP by default; --bare for the"
        " legacy method-per-tool JSON-RPC)"
    )
    srv.add_argument("--bare", action="store_true",
                     help="legacy bare JSON-RPC instead of the MCP envelope")
    srv.add_argument("--base-dir", action="append", default=[],
                     help="base directory for list_files/sync (repeatable)")
    return p


def run(argv: list[str], engine, out=None) -> int:
    """Execute one subcommand against ``engine``; JSON results to ``out``."""
    out = out or sys.stdout
    args = _parser().parse_args(argv)

    def emit(obj) -> None:
        out.write(json.dumps(obj, default=str) + "\n")

    if args.cmd == "ingest":
        from .sources.structured import COMPRESSION_EXTS

        target = os.path.abspath(args.path)
        inner = target
        ext = inner.rsplit(".", 1)[-1].lower() if "." in inner else ""
        if ext in COMPRESSION_EXTS:  # route on the inner spelling: a.jsonl.gz
            inner = inner[: -(len(ext) + 1)]
        if os.path.isdir(target):
            emit(engine.ingest_directory(target))
        elif target.endswith((".tgz", ".tbz2", ".txz")) or inner.endswith(".tar"):
            emit(engine.ingest_shards([target]))
        elif inner.rsplit(".", 1)[-1].lower() in (
            "jsonl", "csv", "xml", "arrow", "feather", "parquet"
        ):
            emit(engine.ingest_records_file(target))
        else:
            emit(engine.ingest_file(target))
        engine.optimize()
        return 0
    if args.cmd == "query":
        from .plans.cache import persist_scope

        # unpersist the query's bounded intermediates once collected, as
        # the MCP server does per request
        with persist_scope():
            rows = engine.query_documents(
                args.text,
                limit=args.limit,
                scope=args.scope,
                max_distance=args.max_distance,
                grouping=args.grouping,
            ).collect()
        emit({"results": [r.asDict() for r in rows]})
        return 0
    if args.cmd == "list":
        emit({"documents": [r.asDict() for r in engine.list_documents().collect()]})
        return 0
    if args.cmd == "status":
        emit(engine.get_status())
        return 0
    if args.cmd == "delete":
        n = engine.delete_document(os.path.abspath(args.path))
        engine.optimize()
        emit({"filePath": os.path.abspath(args.path), "deletedChunks": n})
        return 0
    if args.cmd == "sync":
        rep = engine.sync(os.path.abspath(args.path))
        engine.optimize()
        emit({"counters": rep.counters, "warnings": rep.warnings})
        return 0

    if args.cmd == "sync-shards":
        rep = engine.sync_shards(os.path.abspath(args.path), pattern=args.pattern)
        emit({"counters": rep.counters, "warnings": rep.warnings})
        return 0
    if args.cmd == "repack-shards":
        rep = engine.repack_shards(
            os.path.abspath(args.path), pattern=args.pattern,
            samples_per_shard=args.samples_per_shard,
            min_utilization=args.min_utilization,
            reclaim_rowless=args.reclaim_rowless,
        )
        emit(rep)
        return 0
    if args.cmd == "export-epoch":
        import glob as _glob

        from .plans.export import export_packed_epoch
        from .plans.repack import recover_pending_repack

        shard_dir = os.path.abspath(args.shard_dir)
        # a crashed repack's half-applied file ops would double-serve
        # live samples (old + staged tars both visible to the glob) —
        # complete the pending intent before reading the directory,
        # exactly like sync_shards/repack_shards do
        recover_pending_repack(engine)
        paths = sorted(
            p
            for p in _glob.glob(os.path.join(shard_dir, args.pattern))
            if os.path.isfile(p)
        )
        if not paths:
            emit({"error": f"no shards match {args.pattern} in {shard_dir}"})
            return 1
        rep = export_packed_epoch(
            engine.spark, paths, os.path.abspath(args.out_dir),
            seed=args.seed, seq_len=args.seq_len, buffer=args.buffer,
            tokenizer=args.tokenizer,
        )
        emit({k: v for k, v in rep.items() if k != "manifest"}
             | {"shards": len(rep["manifest"]["shards"])})
        return 0
    if args.cmd == "read-neighbors":
        from .operators.neighbors import NeighborServer

        rows = NeighborServer(engine.spark, engine.table_path).read(
            os.path.abspath(args.path), args.index,
            before=args.before, after=args.after,
        )
        keep = ("filePath", "chunkIndex", "text")
        emit({"chunks": [{k: r[k] for k in keep if k in r} for r in rows]})
        return 0
    if args.cmd == "ann-build":
        n = engine.build_ann_index(n_cells=args.cells, pq=args.pq,
                                   pq_m=args.pq_m)
        emit({"annIndexPath": engine.ann_index_path, "nCells": n,
              "fresh": engine.ann_index_is_fresh(),
              "pq": engine.ann_index_status()["pq"]})
        return 0
    if args.cmd == "table-status":
        from .plans.merge import table_status

        emit(table_status(os.path.abspath(args.path)))
        return 0
    if args.cmd == "table-history":
        from .plans.merge import list_versions, snapshot_rowcount

        path = os.path.abspath(args.path)
        emit({
            "versions": [
                {"version": v, "rows": snapshot_rowcount(path, v)}
                for v in list_versions(path)
            ]
        })
        return 0
    if args.cmd == "table-compact":
        from .plans.merge import compact_snapshots

        v = compact_snapshots(
            engine.spark, os.path.abspath(args.path), max_dirs=args.max_dirs
        )
        emit({"compacted": v is not None, "version": v})
        return 0
    if args.cmd == "table-optimize":
        from .plans.merge import optimize_table

        v = optimize_table(
            engine.spark, os.path.abspath(args.path),
            args.columns.split(","), curve=args.curve,
            max_records_per_file=args.max_records_per_file,
        )
        emit({"version": v, "clusteredBy": args.columns.split(","),
              "curve": args.curve})
        return 0
    if args.cmd == "table-vacuum":
        from .plans.merge import vacuum

        removed = vacuum(
            os.path.abspath(args.path),
            keep_versions=args.keep,
            grace_seconds=args.grace,
        )
        emit({"removedDataDirs": removed})
        return 0
    if args.cmd == "savepoint-create":
        from .plans.savepoint import create_savepoint

        rec = create_savepoint(
            os.path.abspath(args.root), args.name,
            [os.path.abspath(t) for t in args.tables],
        )
        emit({"savepoint": args.name, "tables": rec["tables"]})
        return 0
    if args.cmd == "savepoint-list":
        from .plans.savepoint import list_savepoints

        emit({"savepoints": list_savepoints(os.path.abspath(args.root))})
        return 0
    if args.cmd == "savepoint-verify":
        from .plans.savepoint import verify_savepoint

        out = verify_savepoint(os.path.abspath(args.root), args.name)
        emit({"savepoint": args.name, "tables": out,
              "ok": all(v == "ok" for v in out.values())})
        return 0
    if args.cmd == "table-rename-column":
        from .plans.merge import rename_column

        v = rename_column(os.path.abspath(args.path), args.old, args.new)
        emit({"version": v, "renamed": {args.old: args.new}})
        return 0
    if args.cmd == "table-drop-column":
        from .plans.merge import drop_column

        v = drop_column(os.path.abspath(args.path), args.column)
        emit({"version": v, "dropped": args.column})
        return 0
    if args.cmd == "table-rebucket":
        from .plans.merge import rebucket

        v = rebucket(engine.spark, os.path.abspath(args.path), args.n_buckets)
        emit({"version": v, "nBuckets": args.n_buckets})
        return 0
    if args.cmd == "table-get":
        # serving path (plans/point_read): manifest + bucket resolved
        # driver-locally, one pyarrow filter — no Spark job per read
        from .plans.point_read import SnapshotReader

        rows = SnapshotReader(os.path.abspath(args.path)).lookup(
            args.key, version=args.version
        )
        emit({"rows": rows})
        return 0
    if args.cmd == "table-changes":
        from .plans.merge import read_changes

        rows = read_changes(
            engine.spark, os.path.abspath(args.path),
            args.from_version, args.to_version,
        ).limit(args.limit).collect()
        emit({"changes": [r.asDict() for r in rows]})
        return 0
    if args.cmd == "view-create":
        from .plans.changefeed import create_view_over_table

        measures = []
        for spec in args.measure:
            parts = spec.split(":")
            if len(parts) == 2:
                name, op, col = parts[0], parts[1], None
            elif len(parts) == 3:
                # approx_topk always takes a column, so 3 parts here
                # means NAME:OP:COL; an all-digit "column" after
                # approx_topk is a K the user meant for the 4-part form
                name, op, col = parts
                if op == "approx_topk" and col.isdigit():
                    raise ValueError(
                        f"--measure {spec!r}: approx_topk needs a column"
                        " — use NAME:approx_topk:K:COL (or"
                        " NAME:approx_topk:COL for the default K)"
                    )
            elif len(parts) == 4:  # NAME:approx_topk:K:COL
                name, op, col = parts[0], f"{parts[1]}:{parts[2]}", parts[3]
            else:
                raise ValueError(f"bad --measure {spec!r}")
            measures.append((name, op, col))
        v = create_view_over_table(
            engine.spark, os.path.abspath(args.source),
            os.path.abspath(args.view), args.key, measures,
            at_version=args.at_version, n_buckets=args.buckets,
        )
        emit({"view": os.path.abspath(args.view), "cursor": v})
        return 0
    if args.cmd == "view-sync":
        from .plans.changefeed import sync_view_auto

        v = sync_view_auto(
            engine.spark, os.path.abspath(args.view),
            source_table=os.path.abspath(args.source) if args.source else None,
        )
        emit({"view": os.path.abspath(args.view), "cursor": v,
              "advanced": v is not None})
        return 0
    if args.cmd == "view-read":
        from .plans.ivm import ivm_read

        rows = ivm_read(engine.spark, os.path.abspath(args.view)).limit(
            args.limit
        ).collect()
        emit({"rows": [r.asDict() for r in rows]})
        return 0
    if args.cmd == "index-create":
        from .plans.secondary import create_secondary_index

        v = create_secondary_index(
            engine.spark, os.path.abspath(args.source),
            os.path.abspath(args.index), args.column,
            n_buckets=args.buckets,
        )
        emit({"index": os.path.abspath(args.index), "cursor": v})
        return 0
    if args.cmd == "index-sync":
        from .plans.secondary import sync_secondary_index

        v = sync_secondary_index(engine.spark, os.path.abspath(args.index))
        emit({"index": os.path.abspath(args.index), "cursor": v,
              "advanced": v is not None})
        return 0
    if args.cmd == "index-lookup":
        from .plans.secondary import lookup_by

        rows = lookup_by(
            engine.spark, os.path.abspath(args.index), args.value,
            at_source_version=args.at_source_version,
        ).limit(args.limit).collect()
        emit({"rows": [r.asDict() for r in rows]})
        return 0
    if args.cmd == "table-maintain":
        from .plans.maintain import table_maintain

        emit(
            table_maintain(
                engine.spark, os.path.abspath(args.path),
                txn_log=args.txn_log,
                compact_max_dirs=args.compact_max_dirs,
                vacuum_keep_versions=args.keep,
                vacuum_grace_seconds=args.grace,
                protect_consumers=args.protect_consumer or None,
                protect_savepoints=args.protect_savepoints,
            )
        )
        return 0
    if args.cmd == "index-recover":
        emit(engine.recover_indexes())
        return 0
    if args.cmd == "txn-recover":
        from .plans.txn import recover_txns

        emit(recover_txns(
            os.path.abspath(args.log),
            grace_seconds=args.grace,
            record_retention_seconds=args.record_retention,
        ))
        return 0
    if args.cmd == "ivf-maintain":
        from .plans.ann_index import ivf_maintain

        emit(
            ivf_maintain(
                engine.spark, os.path.abspath(args.index),
                vec_col=args.vec_col,
                split_fill_ratio=args.split_fill_ratio,
                split_mean_dist=args.split_mean_dist,
                k=args.k, max_splits=args.max_splits,
                compact_min_files=args.compact_min_files,
                seed_col=args.seed_col,
            )
        )
        return 0
    if args.cmd == "serve":
        from .server import McpServer, RagRpcServer

        rpc = RagRpcServer(engine, base_dirs=args.base_dir)
        (rpc if args.bare else McpServer(rpc)).serve(sys.stdin, out)
        return 0
    raise AssertionError(f"unhandled command {args.cmd}")


def main() -> int:  # pragma: no cover - session assembly
    argv = sys.argv[1:]
    args, _ = _parser().parse_known_args(argv)
    if not args.table:
        print("--table (or $SPARK_RAG_TABLE) is required", file=sys.stderr)
        return 2
    from .engine import RagEngine
    from .session import get_spark

    engine = RagEngine(get_spark("rag-cli"), args.table)
    try:
        return run(argv, engine)
    except Exception as e:  # clean one-line error, not a JVM stack trace
        print(f"error: {type(e).__name__}: {e}", file=sys.stderr)
        return 1


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
