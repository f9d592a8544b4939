"""Z-order clustered layout (plans/zorder): multi-dimensional row-group
pruning evidence, correctness of the clustered copy, and pushdown."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from mcp_local_rag_spark.plans.zorder import with_zorder_key, write_zordered
from mcp_local_rag_spark.session import load

SF = "/root/testdata/sf0.01"


def rowgroup_prune_stats(path: str, col: str, lo, hi) -> tuple[int, int]:
    """(total row groups, row groups a [lo, hi] predicate on ``col``
    could match by min/max stats) across the layout — the data-skipping
    evidence a reader's pushdown realizes. Driver-side footer reads only."""
    total = matching = 0
    names = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet")
    )
    for name in names:
        md = pq.read_metadata(os.path.join(path, name))
        sch = md.schema.to_arrow_schema()
        idx = sch.get_field_index(col)
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            total += 1
            if st is None or not st.has_min_max:
                matching += 1
            else:
                mn, mx = st.min, st.max
                # TIMESTAMP stats come back tz-aware (UTC) while Spark
                # collect() hands out naive datetimes — compare naive
                if hasattr(mn, "tzinfo") and mn.tzinfo is not None:
                    if getattr(lo, "tzinfo", None) is None:
                        mn = mn.replace(tzinfo=None)
                        mx = mx.replace(tzinfo=None)
                if not (mx < lo or mn > hi):
                    matching += 1
    return total, matching


def _layouts(spark, tmp_path):
    ev = load(spark, SF, "events")
    zpath = str(tmp_path / "events_z")
    spath = str(tmp_path / "events_ts")
    write_zordered(ev, zpath, ["user_id", "ts"], bits=6, n_files=16)
    spark.conf.set(
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
    )
    try:
        (
            ev.repartitionByRange(16, F.col("ts"))
            .sortWithinPartitions("ts")
            .write.mode("overwrite")
            .parquet(spath)
        )
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    return ev, zpath, spath


def test_zorder_prunes_both_dimensions(spark, tmp_path):
    """The z-ordered layout's row-group stats prune range predicates on
    BOTH clustered columns; the single-column ts sort prunes only ts —
    every row group matches any user_id range."""
    ev, zpath, spath = _layouts(spark, tmp_path)
    lo_ts, hi_ts = ev.agg(F.min("ts"), F.max("ts")).first()
    span = hi_ts - lo_ts
    mid_lo, mid_hi = lo_ts + span / 2, lo_ts + span / 2 + span / 8

    zt, zm = rowgroup_prune_stats(zpath, "user_id", 20, 50)
    st, sm = rowgroup_prune_stats(spath, "user_id", 20, 50)
    assert sm == st  # ts-sorted layout: user predicate prunes nothing
    assert zm <= 0.75 * zt, (zm, zt)  # z-order: skips user-disjoint groups

    zt2, zm2 = rowgroup_prune_stats(zpath, "ts", mid_lo, mid_hi)
    st2, sm2 = rowgroup_prune_stats(spath, "ts", mid_lo, mid_hi)
    assert sm2 <= 0.5 * st2  # the sort's own dimension prunes hard
    assert zm2 <= 0.75 * zt2, (zm2, zt2)  # z-order still prunes ts too


def test_zordered_copy_is_lossless_and_pushes_down(spark, tmp_path):
    ev, zpath, _ = _layouts(spark, tmp_path)
    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()
    want = {r.event_id for r in ev.filter("user_id between 20 and 50").collect()}
    got_df = back.filter("user_id between 20 and 50")
    assert {r.event_id for r in got_df.collect()} == want
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "user_id" in plan


def test_zorder_key_balance_and_determinism(spark):
    """Quantile bucketing keeps Morton-key range partitions balanced and
    the key is a pure function of the row (no RNG, no partition order)."""
    ev = load(spark, SF, "events").select("event_id", "user_id", "ts")
    k1 = with_zorder_key(ev, ["user_id", "ts"], bits=6)
    k2 = with_zorder_key(ev.repartition(7), ["user_id", "ts"], bits=6)
    a = {r.event_id: r._zkey for r in k1.collect()}
    b = {r.event_id: r._zkey for r in k2.collect()}
    assert a == b
    from collections import Counter

    freq = Counter(a.values())
    # quantile bucketing spreads rows over many distinct keys with no
    # dominant key — the property that makes repartitionByRange even
    assert len(freq) >= 64
    assert max(freq.values()) <= 0.1 * len(a)


def _xy2d(n, x, y):
    """Python twin of the classic Hilbert xy2d recurrence (the test's
    independent reference; validated bijective + unit-step adjacent)."""
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = s - 1 - x, s - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_column_matches_python_twin(spark):
    """The SHIPPED Hilbert recurrence (_with_hilbert_cols — the exact
    path write_zordered uses) equals the classic xy2d on
    the FULL 32x32 grid — which also proves bijectivity (the twin is
    validated bijective with perfect adjacency below)."""
    from mcp_local_rag_spark.plans.zorder import ZKEY, _with_hilbert_cols

    bits, n = 5, 32
    grid = spark.range(n * n).selectExpr(
        "id % 32 as x", "id div 32 as y"
    )
    out = _with_hilbert_cols(grid, [F.col("x"), F.col("y")], bits).withColumn(
        "h", F.col(ZKEY)
    )
    rows = {(r.x, r.y): r.h for r in out.collect()}
    assert rows == {
        (x, y): _xy2d(n, x, y) for x in range(n) for y in range(n)
    }
    # twin self-check: bijective, consecutive cells are grid neighbors
    inv = {v: k for k, v in rows.items()}
    assert len(inv) == n * n
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = inv[d], inv[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_layout_prunes_and_appends(spark, tmp_path):
    """curve='hilbert' writes a lossless layout whose row-group stats
    skip a user_id range."""
    ev = load(spark, SF, "events")
    zpath = str(tmp_path / "events_hilbert")
    write_zordered(
        ev, zpath, ["user_id", "ts"], bits=6, n_files=16, curve="hilbert",
    )
    back = spark.read.parquet(zpath)
    assert back.count() == ev.count()
    umax = ev.agg(F.max("user_id")).first()[0]
    t, m = rowgroup_prune_stats(zpath, "user_id", 0, umax // 8)
    assert m < t, (m, t)


def test_hilbert_temp_collision_and_built_flag(spark, tmp_path):
    from mcp_local_rag_spark.plans.zorder import zorder_is_built
    import pytest as _pytest

    ev = load(spark, SF, "events").withColumn("_hx", F.lit(1))
    with _pytest.raises(ValueError):
        write_zordered(
            ev, str(tmp_path / "clash"), ["user_id", "ts"],
            bits=4, n_files=2, curve="hilbert",
        )
    p = str(tmp_path / "built")
    assert not zorder_is_built(p)
    write_zordered(
        load(spark, SF, "events"), p, ["user_id", "ts"], bits=4, n_files=2
    )
    assert zorder_is_built(p)
