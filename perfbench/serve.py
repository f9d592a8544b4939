"""Server launcher: ``python -m mcp_local_rag_spark <args>`` plus a report.

    python3 perfbench/serve.py --report FILE [--trace] -- <cli args>

It runs the package's own ``cli.main()`` unchanged. With ``--trace`` it
first wraps the layer functions (tracer.instrument) and tags spans with
the JSON-RPC request id; the JSON-RPC method ``perfbench/trace`` with
``{"enabled": bool}`` then switches recording on and off. When the serve
loop ends (stdin closed) it records the ambient probe
(``bench._ambient_control``) and the persistent RDD count on the
server's own Spark session, and writes them, with the spans, to FILE:
stdout is the MCP protocol.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _hook_requests(tracer) -> None:
    from mcp_local_rag_spark import server

    handle = server.McpServer.handle

    def traced_handle(self, request):
        if request.get("method") == "perfbench/trace":
            tracer.enabled = bool((request.get("params") or {}).get("enabled"))
            return {"jsonrpc": "2.0", "id": request.get("id"), "result": {}}
        tracer.set_request(request.get("id"))
        try:
            return handle(self, request)
        finally:
            tracer.set_request(None)

    server.McpServer.handle = traced_handle


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--report", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("cli", nargs=argparse.REMAINDER)
    args = ap.parse_args()
    cli_args = args.cli[1:] if args.cli[:1] == ["--"] else args.cli

    sys.path.insert(0, ROOT)  # this script's own directory is already first
    from mcp_local_rag_spark import cli

    tracer = None
    if args.trace:
        from tracer import Tracer, instrument

        tracer = Tracer()
        instrument(tracer)
        _hook_requests(tracer)

    sys.argv = ["mcp_local_rag_spark", *cli_args]
    rc = cli.main()

    import bench
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    report = {
        "exit_code": rc,
        "persisted_rdds_end": spark.sparkContext._jsc.getPersistentRDDs().size(),
        "ambient": bench._ambient_control(spark),
        "spans": tracer.export() if tracer else [],
    }
    with open(args.report, "w") as f:
        json.dump(report, f)
    stop_spark(spark)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
