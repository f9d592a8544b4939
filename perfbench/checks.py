"""Answer checks. Each returns the list of problems found; an empty list
means the answer is correct."""

from __future__ import annotations

import os


def _under(path: str, prefix: str) -> bool:
    prefix = prefix.rstrip(os.sep)
    return path == prefix or path.startswith(prefix + os.sep)


def query_rows(rows: list[dict], args: dict, known: set[str]) -> list[str]:
    """``query_documents``: at most ``limit`` rows, scores non-decreasing,
    every file one the corpus holds or the run wrote, inside the scope."""
    problems = []
    if len(rows) > args.get("limit", 10):
        problems.append(f"{len(rows)} rows for limit {args.get('limit', 10)}")
    scores = [r["score"] for r in rows]
    if any(b < a for a, b in zip(scores, scores[1:])):
        problems.append("scores decrease")
    for r in rows:
        if r["filePath"] not in known:
            problems.append(f"unknown file {r['filePath']}")
            break
    scope = args.get("scope")
    if scope is not None and not all(_under(r["filePath"], scope) for r in rows):
        problems.append(f"row outside scope {scope}")
    return problems


def neighbor_rows(rows: list[dict], args: dict, chunks: dict[str, int]) -> list[str]:
    """``read_chunk_neighbors``: the contiguous window clamped to the
    document, one target. ``isTarget`` is checked when the answer has it."""
    path, idx = args["filePath"], args["chunkIndex"]
    before, after = args.get("before", 2), args.get("after", 2)
    n = chunks.get(path, 0)
    want = list(range(max(0, idx - before), min(n - 1, idx + after) + 1)) if idx < n else []
    problems = []
    got = [r["chunkIndex"] for r in rows]
    if got != want:
        problems.append(f"chunks {got[:3]}..{got[-3:]} != {want[:3]}..{want[-3:]}")
    if any(r["filePath"] != path for r in rows):
        problems.append("row of another file")
    if rows and "isTarget" in rows[0]:
        targets = [r["chunkIndex"] for r in rows if r["isTarget"]]
        if targets != [idx]:
            problems.append(f"targets {targets} != [{idx}]")
    return problems


def ranks_first(rows: list[dict], path: str) -> list[str]:
    """Read-your-writes after an ingest: the note queried by its exact
    text ranks first."""
    if not rows or rows[0]["filePath"] != path:
        first = rows[0]["filePath"] if rows else None
        return [f"written note {path} not first (first: {first})"]
    return []


def absent(rows: list[dict], path: str) -> list[str]:
    """Read-your-writes after a delete: the note never appears."""
    if any(r["filePath"] == path for r in rows):
        return [f"deleted note {path} still returned"]
    return []


def same_rows(spark_rows: list[dict], sidecar_rows: list[dict]) -> list[str]:
    """The Spark path and the sidecar answer row for row."""
    if spark_rows != sidecar_rows:
        return [f"Spark path differs from the sidecar: {len(spark_rows)} vs "
                f"{len(sidecar_rows)} rows"]
    return []
