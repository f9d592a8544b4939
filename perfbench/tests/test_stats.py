"""The benchmark's own statistics: the percentile rule and failure counting.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
from stats import OpCounter, median, percentile, summarize, supported, tail  # noqa: E402


def test_percentile_is_nearest_rank():
    values = list(range(1, 101))  # 1..100
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile(values, 100) == 100
    assert percentile([7.0], 99) == 7.0
    assert percentile([3, 1, 2], 50) == 2  # unsorted input


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


def test_median_even_and_odd():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_support_needs_ten_samples_beyond():
    for p, n in ((50, 20), (90, 100), (99, 1000), (99.9, 10000)):
        assert supported(n, p) and not supported(n - 1, p)


def test_tail_picks_highest_supported_percentile():
    assert tail([1.0] * 19)["p"] is None
    assert tail([1.0] * 20)["p"] == 50.0
    assert tail([1.0] * 99)["p"] == 75.0
    assert tail([1.0] * 100)["p"] == 90.0
    assert tail([1.0] * 999)["p"] == 95.0
    t = tail([float(i) for i in range(1000)])
    assert t == {"p": 99.0, "value": 989.0, "n": 1000}


def test_summarize_reports_count():
    s = summarize([5.0, 1.0, 3.0])
    assert s["n"] == 3 and s["p50"] == 3.0 and s["tail"]["p"] is None
    assert summarize([])["n"] == 0


def test_failures_count_errors_and_wrong_answers_once():
    ops = OpCounter()
    assert ops.record([]) is True
    assert ops.record(["scores decrease"]) is False
    assert ops.record(error="ToolError: boom") is False
    assert ops.record(["a", "b"], error="c") is False  # one op, one failure
    assert (ops.attempted, ops.failed) == (4, 3)
    assert ops.ratio == 0.75
    assert OpCounter().ratio == 0.0


def test_query_checks():
    known = {"/c/a.md", "/c/b.md"}
    ok = [{"filePath": "/c/a.md", "score": 0.1}, {"filePath": "/c/b.md", "score": 0.2}]
    assert checks.query_rows(ok, {"limit": 5}, known) == []
    assert checks.query_rows(ok, {"limit": 1}, known)
    assert checks.query_rows(ok[::-1], {"limit": 5}, known)
    assert checks.query_rows(ok, {"limit": 5}, {"/c/a.md"})
    assert checks.query_rows(ok, {"limit": 5, "scope": "/c"}, known) == []
    assert checks.query_rows(ok, {"limit": 5, "scope": "/d"}, known)


def test_neighbor_checks_clamp_to_document():
    chunks = {"/c/a.md": 5}
    args = {"filePath": "/c/a.md", "chunkIndex": 1, "before": 2, "after": 20}
    rows = [{"filePath": "/c/a.md", "chunkIndex": i, "isTarget": i == 1} for i in range(5)]
    assert checks.neighbor_rows(rows, args, chunks) == []
    assert checks.neighbor_rows(rows[:-1], args, chunks)  # missing chunk 4
    two_targets = [dict(r, isTarget=r["chunkIndex"] in (1, 2)) for r in rows]
    assert checks.neighbor_rows(two_targets, args, chunks)
