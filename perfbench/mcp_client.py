"""A single closed-loop MCP stdio client.

It sends one JSON-RPC request, waits for its answer and only then sends
the next, which is how an agent drives a stdio MCP server. Each call
returns the decoded tool payload and the client-side latency.
"""

from __future__ import annotations

import json
import subprocess
import time


class ToolError(Exception):
    """The server answered a tools/call with a JSON-RPC error or an
    ``isError`` result."""


class ServerGone(RuntimeError):
    """The server closed its stdout: no further request can be answered."""


class McpClient:
    def __init__(self, argv: list[str], *, env: dict, cwd: str, stderr_path: str):
        self._stderr = open(stderr_path, "wb")
        self.proc = subprocess.Popen(
            argv,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._stderr,
            env=env,
            cwd=cwd,
        )
        self._next_id = 0

    @property
    def pid(self) -> int:
        return self.proc.pid

    def request(self, method: str, params: dict | None = None) -> tuple[int, dict, float]:
        """One request/response round trip: (request id, response, seconds)."""
        self._next_id += 1
        rid = self._next_id
        line = json.dumps({"jsonrpc": "2.0", "id": rid, "method": method,
                           "params": params or {}}).encode() + b"\n"
        t0 = time.perf_counter()
        self.proc.stdin.write(line)
        self.proc.stdin.flush()
        raw = self.proc.stdout.readline()
        dt = time.perf_counter() - t0
        if not raw:
            raise ServerGone(f"server closed the stream during {method} "
                            f"(exit code {self.proc.poll()})")
        resp = json.loads(raw)
        if resp.get("id") != rid:
            raise ServerGone(f"response id {resp.get('id')} for request {rid}")
        return rid, resp, dt

    def initialize(self) -> float:
        _, resp, dt = self.request("initialize", {
            "protocolVersion": "2025-06-18",
            "capabilities": {},
            "clientInfo": {"name": "perfbench", "version": "1"},
        })
        if "result" not in resp:
            raise ToolError(f"initialize failed: {resp.get('error')}")
        self.proc.stdin.write(b'{"jsonrpc": "2.0", "method": "notifications/initialized"}\n')
        self.proc.stdin.flush()
        return dt

    def call(self, name: str, arguments: dict) -> tuple[int, object, float]:
        """tools/call: (request id, decoded first text block, seconds)."""
        rid, resp, dt = self.request("tools/call", {"name": name, "arguments": arguments})
        if "error" in resp:
            raise ToolError(f"{name}: {resp['error'].get('message')}")
        result = resp["result"]
        text = result["content"][0]["text"]
        if result.get("isError"):
            raise ToolError(f"{name}: {text}")
        return rid, json.loads(text), dt

    def close(self, timeout: float = 60.0) -> int:
        """End the session (stdin EOF) and wait for the process to exit."""
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
            return self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            return self.proc.wait()
        finally:
            if self.proc.stdout:
                self.proc.stdout.close()
            self._stderr.close()
