"""Invariants for the snapshot-versioned MERGE table (plans/merge) and
incremental view maintenance (plans/ivm): time-travel bit-stability,
touched-bucket-only writes, crash invisibility, wholesale-update NULL
semantics, out-of-order IVM convergence, retraction, schema stability."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mcp_local_rag_spark.plans.ivm import ivm_apply, ivm_create, ivm_read
from mcp_local_rag_spark.plans.merge import (
    create_merge_table,
    current_version,
    list_versions,
    merge_into,
    read_manifest,
    read_snapshot,
)


def _base(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("k"),
        (F.col("id") * 3).alias("v"),
        F.concat(F.lit("row"), F.col("id").cast("string")).alias("tag"),
    )


@pytest.fixture
def table(spark, tmp_path):
    path = str(tmp_path / "mt")
    create_merge_table(_base(spark), path, "k", n_buckets=8)
    return path


def test_merge_update_insert_delete(spark, table):
    src = spark.createDataFrame(
        [
            Row(k=5, v=999, tag="upd", is_delete=False),
            Row(k=10_000, v=1, tag="ins", is_delete=False),
            Row(k=7, v=0, tag="x", is_delete=True),
        ]
    )
    v = merge_into(spark, table, src, delete_col="is_delete")
    assert v == 2
    out = {r["k"]: r for r in read_snapshot(spark, table).collect()}
    assert len(out) == 200  # 200 - 1 delete + 1 insert
    assert out[5]["v"] == 999 and out[5]["tag"] == "upd"
    assert out[10_000]["tag"] == "ins"
    assert 7 not in out


def test_time_travel_is_bit_stable(spark, table):
    before = read_snapshot(spark, table).orderBy("k").collect()
    src = spark.createDataFrame([Row(k=5, v=1, tag="z", is_delete=False)])
    merge_into(spark, table, src, delete_col="is_delete")
    # v1 read AFTER the commit matches the pre-merge read exactly
    again = read_snapshot(spark, table, version=1).orderBy("k").collect()
    assert again == before
    assert list_versions(table) == [1, 2]


def test_merge_touches_only_source_buckets(spark, table):
    src = spark.createDataFrame([Row(k=5, v=1, tag="z", is_delete=False)])
    m1 = read_manifest(table)
    merge_into(spark, table, src, delete_col="is_delete")
    m2 = read_manifest(table)
    changed = {b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]}
    assert len(changed) == 1  # exactly the bucket k=5 hashes into
    # every untouched bucket still points at its ORIGINAL immutable file
    for b in set(m1["buckets"]) - changed:
        assert m2["buckets"][b] == m1["buckets"][b]


def test_update_null_column_sticks(spark, table):
    """A matched source row replaces the target WHOLESALE: an explicit
    NULL in the update must not be back-filled from the old row."""
    src = spark.createDataFrame(
        [Row(k=3, v=None, tag="nulled", is_delete=False)],
        "k long, v long, tag string, is_delete boolean",
    )
    merge_into(spark, table, src, delete_col="is_delete")
    row = read_snapshot(spark, table).filter(F.col("k") == 3).first()
    assert row["v"] is None and row["tag"] == "nulled"


def test_uncommitted_data_dir_is_invisible(spark, table):
    """Crash contract: a data_v dir with no manifest/CURRENT is never
    read."""
    os.makedirs(os.path.join(table, "data_v99", "bucket=0"), exist_ok=True)
    assert current_version(table) == 1
    assert read_snapshot(spark, table).count() == 200


def test_delete_everything_keeps_table_readable(spark, tmp_path):
    path = str(tmp_path / "small")
    create_merge_table(_base(spark, 5), path, "k", n_buckets=4)
    src = _base(spark, 5).withColumn("is_delete", F.lit(True))
    merge_into(spark, path, src, delete_col="is_delete")
    snap = read_snapshot(spark, path)
    assert snap.count() == 0
    assert set(snap.columns) >= {"k", "v", "tag"}
    # and v1 still holds all 5 rows
    assert read_snapshot(spark, path, version=1).count() == 5


# ---------------------------------------------------------------------------
# IVM


def _events(spark, n=3000):
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("grp"),
        (F.col("id") % 100).cast("decimal(18,6)").alias("amount"),
    )


KEYS = ["grp"]
MEASURES = [("cnt", "count", None), ("total", "sum", "amount")]


def _flat(spark, df):
    return {
        r["grp"]: (r["cnt"], r["total"])
        for r in df.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("amount").cast("decimal(18,6)").alias("total"))
        .collect()
    }


def _view(spark, path):
    return {
        r["grp"]: (r["cnt"], r["total"])
        for r in ivm_read(spark, path)
        .select("grp", "cnt", F.col("total").cast("decimal(18,6)").alias("total"))
        .collect()
    }


def test_ivm_out_of_order_applies_converge_to_batch(spark, tmp_path):
    path = str(tmp_path / "ivm")
    ev = _events(spark)
    ivm_create(spark, path, ev, KEYS, MEASURES, n_buckets=4)
    for part in (2, 0, 1):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, MEASURES,
        )
    assert _view(spark, path) == _flat(spark, ev)


def test_ivm_retraction_and_group_removal(spark, tmp_path):
    path = str(tmp_path / "ivm_r")
    ev = _events(spark, 70)  # 10 rows per group
    ivm_create(spark, path, ev, KEYS, MEASURES, n_buckets=4)
    ivm_apply(spark, path, ev, KEYS, MEASURES)
    # retract ALL of group 3 and one row of group 5
    ivm_apply(
        spark, path, ev.filter(F.col("grp") == 3), KEYS, MEASURES, weight=-1
    )
    ivm_apply(
        spark, path,
        ev.filter((F.col("grp") == 5) & (F.col("event_id") == 5)),
        KEYS, MEASURES, weight=-1,
    )
    view = _view(spark, path)
    assert 3 not in view  # fully-retracted group removed, not a 0-row
    exp = _flat(spark, ev.filter(F.col("grp") != 3).filter(F.col("event_id") != 5))
    # group 5 lost exactly event 5; all other groups untouched
    assert view == exp


def test_ivm_schema_stable_across_applies(spark, tmp_path):
    """Decimal sums must not widen version-over-version."""
    path = str(tmp_path / "ivm_s")
    ev = _events(spark, 300)
    ivm_create(spark, path, ev, KEYS, MEASURES, n_buckets=4)
    types = []
    for part in (0, 1, 2):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, MEASURES,
        )
        types.append(dict(ivm_read(spark, path).dtypes)["total"])
    assert len(set(types)) == 1


def test_ivm_minmax_converges_and_rejects_retraction(spark, tmp_path):
    """min/max fold as commutative monoids across any batch order; they
    have no inverse, so weight=-1 is rejected up front (no partial
    state change)."""
    path = str(tmp_path / "ivm_mm")
    ev = _events(spark, 200)
    measures = MEASURES + [("lo", "min", "amount"), ("hi", "max", "amount")]
    ivm_create(spark, path, ev, KEYS, measures, n_buckets=4)
    for part in (1, 2, 0):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, measures,
        )
    got = {
        r["grp"]: (r["cnt"], r["lo"], r["hi"])
        for r in ivm_read(spark, path).collect()
    }
    exp = {
        r["grp"]: (r["cnt"], r["lo"], r["hi"])
        for r in ev.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("amount").alias("lo"),
            F.max("amount").alias("hi"),
        )
        .collect()
    }
    assert got == exp
    before = ivm_read(spark, path).count()
    with pytest.raises(ValueError, match="no inverse"):
        ivm_apply(spark, path, ev.limit(3), KEYS, measures, weight=-1)
    assert ivm_read(spark, path).count() == before


def test_ivm_approx_ndv_sketch_matches_oneshot(spark, tmp_path):
    """HLL union is order-insensitive and associative, so the folded
    sketch's estimate is BIT-IDENTICAL to a one-shot hll_sketch_agg over
    the union — not merely close. State per group stays a few-KB binary
    regardless of absorbed distinct values (the 100 TB posture)."""
    path = str(tmp_path / "ivm_ndv")
    ev = _events(spark, 900)
    measures = [("cnt", "count", None), ("ndv_sk", "approx_ndv", "event_id")]
    ivm_create(spark, path, ev, KEYS, measures, n_buckets=4)
    for part in (2, 0, 1):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, measures,
        )
    got = {
        r["grp"]: r["ndv"]
        for r in ivm_read(spark, path)
        .select("grp", F.hll_sketch_estimate("ndv_sk").alias("ndv"))
        .collect()
    }
    exp = {
        r["grp"]: r["ndv"]
        for r in ev.groupBy("grp")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("event_id")).alias("ndv"))
        .collect()
    }
    assert got == exp
    with pytest.raises(ValueError, match="no inverse"):
        ivm_apply(spark, path, ev.limit(3), KEYS, measures, weight=-1)


def test_ivm_approx_topk_mergeable_guarantees(spark, tmp_path):
    """Misra–Gries heavy hitters folded across shuffled batches keep the
    mergeable-summaries guarantees: (a) ≤K entries of state per group,
    (b) any item with true frequency > n/(K+1) is present, (c) every
    estimate satisfies est ≤ true ≤ est + n/(K+1)."""
    k = 8
    path = str(tmp_path / "ivm_tk")
    # skewed values: cubing the 0..1 ramp concentrates mass on low codes
    ev = _events(spark, 3000).withColumn(
        "val",
        F.floor(F.pow((F.col("event_id") % 100) / 100.0, 3) * 20).cast("string"),
    )
    measures = [("cnt", "count", None), ("hot", f"approx_topk:{k}", "val")]
    ivm_create(spark, path, ev, KEYS, measures, n_buckets=4)
    for part in (1, 2, 0):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, measures,
        )
    got = {
        r["grp"]: (r["cnt"], r["hot"])
        for r in ivm_read(spark, path).collect()
    }
    true = {
        (r["grp"], r["val"]): r["c"]
        for r in ev.groupBy("grp", "val").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    for grp, (n, summary) in got.items():
        assert len(summary) <= k
        slack = n / (k + 1)
        for (g, v), c in true.items():
            if g != grp:
                continue
            if c > slack:
                assert v in summary, f"guaranteed hitter {v!r} missing in grp {grp}"
            if v in summary:
                est = summary[v]
                assert est <= c <= est + slack
    with pytest.raises(ValueError, match="no inverse"):
        ivm_apply(spark, path, ev.limit(3), KEYS, measures, weight=-1)


def test_ivm_hist_additive_and_retractable(spark, tmp_path):
    """hist is the INVERTIBLE map measure: shuffled applies converge to
    the exact per-group histogram, retraction cancels bins exactly, and
    bins that net to zero leave the map."""
    path = str(tmp_path / "ivm_h")
    ev = _events(spark, 1200).withColumn(
        "bin", (F.col("event_id") % 10).cast("string")
    )
    measures = [("cnt", "count", None), ("h", "hist", "bin")]
    ivm_create(spark, path, ev, KEYS, measures, n_buckets=4)
    for part in (2, 1, 0):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, measures,
        )

    def batch_hist(df):
        return {
            (r["grp"], r["bin"]): r["c"]
            for r in df.groupBy("grp", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }

    def view_hist():
        return {
            (r["grp"], b): c
            for r in ivm_read(spark, path).collect()
            for b, c in r["h"].items()
        }

    assert view_hist() == batch_hist(ev)
    # retract every bin-7 row: bin 7 vanishes, everything else exact
    ivm_apply(
        spark, path, ev.filter(F.col("bin") == "7"), KEYS, measures, weight=-1
    )
    assert view_hist() == batch_hist(ev.filter(F.col("bin") != "7"))
    # retract the rest of group 2: the whole group leaves the view
    ivm_apply(
        spark, path,
        ev.filter((F.col("grp") == 2) & (F.col("bin") != "7")),
        KEYS, measures, weight=-1,
    )
    view = ivm_read(spark, path)
    assert view.filter(F.col("grp") == 2).count() == 0
    assert view_hist() == batch_hist(
        ev.filter((F.col("bin") != "7") & (F.col("grp") != 2))
    )


def test_ivm_empty_delta_commits_noop_version(spark, tmp_path):
    path = str(tmp_path / "ivm_e")
    ev = _events(spark, 30)
    ivm_create(spark, path, ev, KEYS, MEASURES, n_buckets=4)
    ivm_apply(spark, path, ev, KEYS, MEASURES)
    v_before = _view(spark, path)
    v = ivm_apply(spark, path, ev.limit(0), KEYS, MEASURES)
    assert v == 3
    assert _view(spark, path) == v_before


# ---------------------------------------------------------------------------
# Streaming twin


# ---------------------------------------------------------------------------
# Lifecycle: compaction + vacuum


def test_compact_rewrites_scattered_snapshot(spark, table):
    from mcp_local_rag_spark.plans.merge import compact_snapshots, read_manifest

    for k in (1, 2, 3):
        src = spark.createDataFrame(
            [Row(k=k, v=k * 100, tag=f"u{k}", is_delete=False)]
        )
        merge_into(spark, table, src, delete_col="is_delete")
    before = read_snapshot(spark, table).orderBy("k").collect()
    assert len(set(read_manifest(table)["buckets"].values())) > 1
    v = compact_snapshots(spark, table)
    assert v == 5
    m = read_manifest(table)
    dirs = set(m["buckets"].values())
    assert len(dirs) == 1 and next(iter(dirs)).startswith(f"data_v{v}_")
    assert read_snapshot(spark, table).orderBy("k").collect() == before
    # already compact -> no-op, no new version
    assert compact_snapshots(spark, table) is None


def test_vacuum_drops_only_unreferenced_history(spark, table):
    from mcp_local_rag_spark.plans.merge import (
        compact_snapshots,
        list_versions,
        vacuum,
    )

    for k in (1, 2, 3):
        src = spark.createDataFrame(
            [Row(k=k, v=k, tag="u", is_delete=False)]
        )
        merge_into(spark, table, src, delete_col="is_delete")
    compact_snapshots(spark, table)  # v5, self-contained
    cur = read_snapshot(spark, table).orderBy("k").collect()
    # grace_seconds=0: the test's dirs are seconds old and no writer is
    # in flight (production default keeps young dirs for in-flight merges)
    removed = vacuum(table, keep_versions=1, grace_seconds=0)
    # v2..v4's dirs retired; v1 survives as the schema anchor
    assert removed and "data_v1" not in removed
    assert list_versions(table) == [5]
    assert read_snapshot(spark, table).orderBy("k").collect() == cur


def test_vacuum_keeps_dirs_shared_with_retained_versions(spark, table):
    """A data dir referenced by ANY retained manifest must survive even
    when other retained versions moved past it."""
    from mcp_local_rag_spark.plans.merge import vacuum

    src = spark.createDataFrame([Row(k=1, v=9, tag="u", is_delete=False)])
    merge_into(spark, table, src, delete_col="is_delete")  # v2
    removed = vacuum(table, keep_versions=2, grace_seconds=0)  # retains v1+v2
    assert removed == []
    # v2's untouched buckets still resolve into data_v1
    assert read_snapshot(spark, table).count() == 200


# --- change data feed (plans/merge.read_changes) ---


def _cdf(spark, table, lo, hi):
    from mcp_local_rag_spark.plans.merge import read_changes

    return {
        (r["_change_type"], r["k"]): r
        for r in read_changes(spark, table, lo, hi).collect()
    }


def test_cdf_classifies_and_drops_carried_rows(spark, table):
    """A rewritten bucket carries every untouched row through the merge;
    the CDF must emit ONLY the rows whose content actually changed."""
    src = spark.createDataFrame(
        [
            Row(k=5, v=999, tag="upd", is_delete=False),
            Row(k=6, v=18, tag="row6", is_delete=False),  # identical no-op
            Row(k=10_000, v=1, tag="ins", is_delete=False),
            Row(k=7, v=0, tag="x", is_delete=True),
        ]
    )
    merge_into(spark, table, src, delete_col="is_delete")
    ch = _cdf(spark, table, 1, 2)
    assert set(ch) == {
        ("update_preimage", 5),
        ("update_postimage", 5),
        ("insert", 10_000),
        ("delete", 7),
    }
    assert ch[("update_preimage", 5)]["v"] == 15
    assert ch[("update_postimage", 5)]["v"] == 999
    assert ch[("delete", 7)]["tag"] == "row7"


def test_cdf_null_update_and_net_change(spark, table):
    src1 = spark.createDataFrame(
        [Row(k=3, v=None, tag="nulled", is_delete=False)],
        "k long, v long, tag string, is_delete boolean",
    )
    merge_into(spark, table, src1, delete_col="is_delete")
    ch = _cdf(spark, table, 1, 2)
    assert ch[("update_postimage", 3)]["v"] is None  # eqNullSafe caught it
    # update then delete: the 1->3 NET diff is a single delete of the v1 image
    src2 = spark.createDataFrame([Row(k=3, v=0, tag="z", is_delete=True)])
    merge_into(spark, table, src2, delete_col="is_delete")
    ch13 = _cdf(spark, table, 1, 3)
    assert set(ch13) == {("delete", 3)}
    assert ch13[("delete", 3)]["tag"] == "row3"  # v1 image, not the nulled one


def test_cdf_same_version_is_empty_with_schema(spark, table):
    from mcp_local_rag_spark.plans.merge import read_changes

    out = read_changes(spark, table, 1, 1)
    assert out.count() == 0
    assert out.columns == ["_change_type", "k", "v", "tag"]


# --- optimistic concurrency (O_EXCL manifest commits) ---


def test_concurrent_commit_loses_version_race(spark, table):
    from mcp_local_rag_spark.plans.merge import ConcurrentCommitError, _commit

    m = read_manifest(table)
    _commit(table, {**m, "version": 2}, 2)
    with pytest.raises(ConcurrentCommitError):
        _commit(table, {**m, "version": 2}, 2)
    assert current_version(table) == 2


def test_merge_retries_after_lost_race(spark, table, monkeypatch):
    """Loser of the version race re-derives against the winner's snapshot:
    simulate a racing writer by committing a competing version from inside
    the loser's first commit attempt."""
    import mcp_local_rag_spark.plans.merge as mg

    real_commit = mg._commit
    fired = {}

    def racing_commit(path, manifest, version):
        if not fired:
            fired["x"] = True
            real_commit(path, {**read_manifest(path), "version": version}, version)
        return real_commit(path, manifest, version)

    monkeypatch.setattr(mg, "_commit", racing_commit)
    src = spark.createDataFrame([Row(k=5, v=777, tag="won", is_delete=False)])
    v = merge_into(spark, table, src, delete_col="is_delete", max_retries=2)
    assert v == 3  # v2 went to the racer; the retry committed v3
    assert read_snapshot(spark, table).filter(F.col("k") == 5).first()["v"] == 777


# --- schema evolution (add-only) ---


def test_schema_evolution_rejected_unless_opted_in(spark, table):
    src = spark.createDataFrame(
        [Row(k=5, v=1, tag="z", extra="boom", is_delete=False)]
    )
    with pytest.raises(ValueError, match="schema_evolution"):
        merge_into(spark, table, src, delete_col="is_delete")


def test_schema_evolution_null_fills_without_rewrite(spark, table):
    src = spark.createDataFrame(
        [
            Row(k=5, v=999, tag="upd", score=0.5, is_delete=False),
            Row(k=10_000, v=1, tag="ins", score=1.5, is_delete=False),
        ]
    )
    m1 = read_manifest(table)
    merge_into(
        spark, table, src, delete_col="is_delete", schema_evolution=True
    )
    m2 = read_manifest(table)
    # untouched buckets keep their ORIGINAL pre-evolution files
    touched = {b for b in m1["buckets"] if m1["buckets"][b] != m2["buckets"][b]}
    assert 0 < len(touched) <= 2
    cur = read_snapshot(spark, table)
    assert "score" in cur.columns
    by_k = {r["k"]: r for r in cur.collect()}
    assert by_k[5]["score"] == 0.5 and by_k[10_000]["score"] == 1.5
    assert by_k[0]["score"] is None  # pre-existing row, never rewritten
    assert len(by_k) == 201
    # time travel: v1 keeps the PRE-evolution schema
    assert "score" not in read_snapshot(spark, table, version=1).columns


def test_cdf_across_schema_evolution(spark, table):
    """Evolution-NULLs on carried rows are not changes; images carry the
    evolved schema."""
    src = spark.createDataFrame(
        [Row(k=5, v=999, tag="upd", score=0.5, is_delete=False)]
    )
    merge_into(
        spark, table, src, delete_col="is_delete", schema_evolution=True
    )
    ch = _cdf(spark, table, 1, 2)
    assert set(ch) == {("update_preimage", 5), ("update_postimage", 5)}
    assert ch[("update_preimage", 5)]["score"] is None
    assert ch[("update_postimage", 5)]["score"] == 0.5


# --- change-feed-driven view maintenance (plans/changefeed) ---


def _view_rows(spark, view):
    return {
        r["tagmod"]: (r["n"], r["sv"]) for r in ivm_read(spark, view).collect()
    }


def _cf_setup(spark, tmp_path):
    from mcp_local_rag_spark.plans.changefeed import create_view_over_table

    src_path = str(tmp_path / "src")
    view = str(tmp_path / "view")
    create_merge_table(_base(spark), src_path, "k", n_buckets=8)
    keys = ["tagmod"]
    measures = [("n", "count", None), ("sv", "sum", "v")]

    def transform(df):
        return df.withColumn("tagmod", (F.col("k") % 4).cast("int"))

    create_view_over_table(
        spark, src_path, view, keys, measures, transform=transform,
        at_version=1, n_buckets=4,
    )
    return src_path, view, keys, measures, transform


def _batch_expected(spark, src_path):
    return {
        r["tagmod"]: (r["n"], r["sv"])
        for r in read_snapshot(spark, src_path)
        .withColumn("tagmod", (F.col("k") % 4).cast("int"))
        .groupBy("tagmod")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        .collect()
    }


def test_cdf_view_converges_and_lagged_sync_is_net(spark, tmp_path):
    from mcp_local_rag_spark.plans.changefeed import sync_view

    src_path, view, keys, measures, tf = _cf_setup(spark, tmp_path)
    assert _view_rows(spark, view) == _batch_expected(spark, src_path)
    # two source commits, ONE lagged sync -> net fold
    merge_into(
        spark, src_path,
        spark.createDataFrame([Row(k=5, v=999, tag="u", is_delete=False)]),
        delete_col="is_delete",
    )
    merge_into(
        spark, src_path,
        spark.createDataFrame(
            [Row(k=5, v=0, tag="x", is_delete=True),
             Row(k=900, v=7, tag="i", is_delete=False)]
        ),
        delete_col="is_delete",
    )
    assert sync_view(spark, src_path, view, keys, measures, transform=tf) == 3
    assert _view_rows(spark, view) == _batch_expected(spark, src_path)
    # already current
    assert sync_view(spark, src_path, view, keys, measures, transform=tf) is None


def test_cdf_view_crash_between_halves_recovers(spark, tmp_path):
    from mcp_local_rag_spark.plans.changefeed import sync_view
    from mcp_local_rag_spark.plans.merge import read_changes

    src_path, view, keys, measures, tf = _cf_setup(spark, tmp_path)
    merge_into(
        spark, src_path,
        spark.createDataFrame([Row(k=5, v=999, tag="u", is_delete=False)]),
        delete_col="is_delete",
    )
    # simulate a crash that landed ONLY the add half of range (1, 2]
    ch = read_changes(spark, src_path, 1, 2)
    adds = tf(
        ch.filter(F.col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
    )
    ivm_apply(spark, view, adds, keys, measures, batch_key="cdf:+1->2")
    # the recovery sync completes the retract half (add half no-ops) and
    # the view converges — nothing double-folded
    assert sync_view(spark, src_path, view, keys, measures, transform=tf) == 2
    assert _view_rows(spark, view) == _batch_expected(spark, src_path)


# --- status + array-column (embedding) payloads ---


def test_table_status_flags_compaction_and_orphans(spark, table):
    from mcp_local_rag_spark.plans.merge import table_status

    s0 = table_status(table)
    assert s0["current_version"] == 1 and not s0["needs_compaction"]
    assert s0["orphan_dirs"] == []
    merge_into(
        spark, table,
        spark.createDataFrame([Row(k=5, v=1, tag="z", is_delete=False)]),
        delete_col="is_delete",
    )
    os.makedirs(os.path.join(table, "data_v9_deadbeef"), exist_ok=True)
    s1 = table_status(table)
    assert s1["current_version"] == 2
    assert s1["needs_compaction"]  # live files span 2 dirs now
    assert s1["orphan_dirs"] == ["data_v9_deadbeef"]


def test_merge_and_cdf_on_embedding_arrays(spark, tmp_path):
    """A RAG warehouse upserts vectors: MERGE + change feed must handle
    array<float> payloads (null-safe array comparison included)."""
    from mcp_local_rag_spark.plans.merge import read_changes

    path = str(tmp_path / "emb")
    base = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"), (F.col("id") % 3).cast("float")
        ).alias("emb"),
    )
    create_merge_table(base, path, "vec_id", n_buckets=4)
    src = spark.createDataFrame(
        [
            Row(vec_id=3, emb=[9.0, 9.0], is_delete=False),   # re-embed
            Row(vec_id=4, emb=[float(4 % 7), float(4 % 3)], is_delete=False),  # identical
            Row(vec_id=500, emb=[1.0, 2.0], is_delete=False),  # new vector
        ],
        "vec_id long, emb array<float>, is_delete boolean",
    )
    merge_into(spark, path, src, delete_col="is_delete")
    got = {
        (r["_change_type"], r["vec_id"]): list(r["emb"])
        for r in read_changes(spark, path, 1, 2).collect()
    }
    assert set(got) == {
        ("update_preimage", 3), ("update_postimage", 3), ("insert", 500)
    }
    assert got[("update_postimage", 3)] == [9.0, 9.0]


# --- manifest row stats + streaming CDC apply ---


def test_snapshot_rowcount_is_manifest_only_and_tracks_history(spark, table):
    from mcp_local_rag_spark.plans.merge import snapshot_rowcount

    assert snapshot_rowcount(table) == 200
    merge_into(
        spark, table,
        spark.createDataFrame(
            [Row(k=5, v=1, tag="u", is_delete=False),       # update: net 0
             Row(k=7, v=0, tag="x", is_delete=True),        # delete: -1
             Row(k=900, v=9, tag="i", is_delete=False)],    # insert: +1
        ),
        delete_col="is_delete",
    )
    assert snapshot_rowcount(table) == 200
    assert snapshot_rowcount(table, version=1) == 200
    assert snapshot_rowcount(table) == read_snapshot(spark, table).count()
    # the manifest carries the stats: no data dir needed to answer
    m = read_manifest(table)
    assert sum(m["rows"].values()) == 200


def test_applied_keys_are_bounded(spark, tmp_path):
    from mcp_local_rag_spark.plans.merge import _APPLIED_KEEP

    path = str(tmp_path / "b")
    ev = _events(spark, 50)
    ivm_create(spark, path, ev, KEYS, MEASURES, n_buckets=2)
    for i in range(12):
        ivm_apply(
            spark, path, ev.limit(0), KEYS, MEASURES, batch_key=f"k{i}"
        )
    applied = read_manifest(path)["applied"]
    assert applied == [f"k{i}" for i in range(12)]
    assert len(applied) <= _APPLIED_KEEP


def test_cdf_cursor_survives_trimmed_add_key(spark, tmp_path):
    """The bounded applied-log can cut between a sync's +/- key pair; the
    retract key alone must still prove the range completed (else the
    cursor regresses and the range double-folds)."""
    import json
    import os

    from mcp_local_rag_spark.plans.changefeed import _cursor_state, sync_view
    from mcp_local_rag_spark.plans.merge import _snap_path

    src_path, view, keys, measures, tf = _cf_setup(spark, tmp_path)
    merge_into(
        spark, src_path,
        spark.createDataFrame([Row(k=5, v=999, tag="u", is_delete=False)]),
        delete_col="is_delete",
    )
    assert sync_view(spark, src_path, view, keys, measures, transform=tf) == 2
    # simulate the trim landing between the pair: drop the add key
    cur = current_version(view)
    p = _snap_path(view, cur)
    m = json.load(open(p))
    m["applied"] = [k for k in m["applied"] if not k.startswith("cdf:+")]
    os.remove(p)
    json.dump(m, open(p, "w"))
    cursor, pending = _cursor_state(view)
    assert cursor == 2 and pending is None
    assert sync_view(spark, src_path, view, keys, measures, transform=tf) is None
    assert _view_rows(spark, view) == _batch_expected(spark, src_path)


# slow (verify-window, r16): CDF reconstruction stays default-covered by test_cdf_view_converges_and_lagged_sync_is_net; the any-pair matrix is full-depth
@pytest.mark.slow
def test_cdf_reconstructs_any_snapshot_pair(spark, tmp_path):
    """Fundamental CDF invariant, randomized: for EVERY version pair
    (a, b) of a seeded 4-batch CDC history, applying read_changes(a, b)
    onto snapshot a reproduces snapshot b exactly (delete pre-keys,
    upsert post-images)."""
    import random

    from mcp_local_rag_spark.plans.merge import read_changes

    rng = random.Random(1009)
    path = str(tmp_path / "rt")
    create_merge_table(_base(spark, 120), path, "k", n_buckets=8)
    live = set(range(120))
    next_id = 1000
    for _ in range(4):
        ups = rng.sample(sorted(live), 10)
        dels = [k for k in rng.sample(sorted(live), 6) if k not in ups]
        ins = list(range(next_id, next_id + 4))
        next_id += 100
        rows = (
            [Row(k=k, v=rng.randrange(1000), tag=f"u{k}", is_delete=False) for k in ups]
            + [Row(k=k, v=0, tag="x", is_delete=True) for k in dels]
            + [Row(k=k, v=k, tag=f"i{k}", is_delete=False) for k in ins]
        )
        merge_into(
            spark, path, spark.createDataFrame(rows), delete_col="is_delete"
        )
        live = (live - set(dels)) | set(ins)

    def snap(v):
        return {
            r["k"]: (r["v"], r["tag"])
            for r in read_snapshot(spark, path, v).collect()
        }

    snaps = {v: snap(v) for v in range(1, 6)}
    for a in range(1, 6):
        for b in range(a + 1, 6):
            ch = read_changes(spark, path, a, b).collect()
            rebuilt = dict(snaps[a])
            for r in ch:
                if r["_change_type"] in ("delete", "update_preimage"):
                    rebuilt.pop(r["k"], None)
            for r in ch:
                if r["_change_type"] in ("insert", "update_postimage"):
                    rebuilt[r["k"]] = (r["v"], r["tag"])
            assert rebuilt == snaps[b], f"pair ({a},{b}) diverged"


def test_rebucket_preserves_data_history_and_exactly_once(spark, table):
    from mcp_local_rag_spark.plans.merge import (
        read_changes,
        rebucket,
        snapshot_rowcount,
        table_status,
    )

    before = {r["k"]: (r["v"], r["tag"])
              for r in read_snapshot(spark, table).collect()}
    merge_into(
        spark, table,
        spark.createDataFrame([Row(k=5, v=1, tag="z", is_delete=False)]),
        delete_col="is_delete", batch_key="b1",
    )
    v = rebucket(spark, table, 32)
    assert v == 3
    m = read_manifest(table)
    assert m["n_buckets"] == 32 and len(m["buckets"]) > 8
    after = {r["k"]: (r["v"], r["tag"])
             for r in read_snapshot(spark, table).collect()}
    assert after.keys() == before.keys() and after[5] == (1, "z")
    assert snapshot_rowcount(table) == 200
    # time travel against the OLD layout still works
    assert {r["k"] for r in read_snapshot(spark, table, version=1).collect()} \
        == before.keys()
    # CDF across the rebucket boundary: no logical changes
    assert read_changes(spark, table, 2, 3).count() == 0
    # replay-dedup carries over: re-merging batch b1 is a no-op
    assert merge_into(
        spark, table,
        spark.createDataFrame([Row(k=5, v=777, tag="dup", is_delete=False)]),
        delete_col="is_delete", batch_key="b1",
    ) == 3
    assert read_snapshot(spark, table).filter(F.col("k") == 5).first()["v"] == 1
    # and a NEW merge hashes into the new bucket space
    merge_into(
        spark, table,
        spark.createDataFrame([Row(k=6, v=66, tag="n", is_delete=False)]),
        delete_col="is_delete",
    )
    assert read_snapshot(spark, table).filter(F.col("k") == 6).first()["v"] == 66
    assert table_status(table)["n_buckets"] == 32


def test_key_lookup_scans_one_bucket_and_time_travels(spark, tmp_path):
    """Point read hits exactly the key's bucket (single PartitionFilters
    IN-list with one value), finds updated rows at the current version
    and originals at v1, returns empty for missing keys, and survives a
    rebucket (the manifest's per-version n_buckets drives the hash)."""
    from mcp_local_rag_spark.plans.merge import (
        create_merge_table,
        key_lookup,
        merge_into,
        rebucket,
    )

    tbl = str(tmp_path / "pt")
    base = spark.range(200).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    create_merge_table(base, tbl, "k", n_buckets=8)
    merge_into(
        spark, tbl,
        spark.createDataFrame([Row(k=7, v=-1, is_delete=False)]),
        delete_col="is_delete",
    )

    assert [r["v"] for r in key_lookup(spark, tbl, 7).collect()] == [-1]
    assert [r["v"] for r in key_lookup(spark, tbl, 7, version=1).collect()] == [21]
    assert key_lookup(spark, tbl, 10**9).count() == 0

    # the plan reads ONE bucket directory directly (no sibling listing,
    # no partition-filter pruning needed — the path IS the prune)
    plan = key_lookup(spark, tbl, 7)._jdf.queryExecution().executedPlan().toString()
    import re as _re

    scans = _re.findall(r"InMemoryFileIndex\((\d+) paths?\)", plan)
    assert scans == ["1"], plan

    rebucket(spark, tbl, 32)
    assert [r["v"] for r in key_lookup(spark, tbl, 7).collect()] == [-1]
    assert [r["v"] for r in key_lookup(spark, tbl, 7, version=1).collect()] == [21]


def test_secondary_index_lookup_and_incremental_sync(spark, tmp_path):
    """Secondary index = changefeed view with a hist(pk) map: lookups
    match a full-scan filter exactly, a CDC merge (update moving a value,
    delete, insert) syncs O(changes), and a value whose last row leaves
    disappears from the index."""
    from mcp_local_rag_spark.plans.merge import create_merge_table, merge_into
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
        sync_secondary_index,
    )

    src = str(tmp_path / "src2")
    idx = str(tmp_path / "idx2")
    base = spark.range(120).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("color"),
        (F.col("id") * 10).alias("v"),
    )
    create_merge_table(base, src, "k", n_buckets=8)
    create_secondary_index(spark, src, idx, "color", n_buckets=4)

    def scan(val):
        from mcp_local_rag_spark.plans.merge import read_snapshot

        return {
            r["k"]: r["v"]
            for r in read_snapshot(spark, src)
            .filter(F.col("color") == val)
            .collect()
        }

    def via_index(val):
        return {r["k"]: r["v"] for r in lookup_by(spark, idx, val).collect()}

    assert via_index("2") == scan("2") and len(via_index("2")) == 30
    assert via_index("nope") == {}

    # CDC: k=2 moves color 2->9 (new value), k=6 deleted, k=500 inserted
    merge_into(
        spark, src,
        spark.createDataFrame(
            [Row(k=2, color="9", v=20, is_delete=False),
             Row(k=6, color="2", v=0, is_delete=True),
             Row(k=500, color="2", v=5000, is_delete=False)],
        ),
        delete_col="is_delete",
    )
    assert sync_secondary_index(spark, idx) == 2
    assert via_index("2") == scan("2")  # lost k=2,k=6; gained k=500
    assert via_index("9") == {2: 20}

    # drain value 9 entirely -> its index group is removed
    merge_into(
        spark, src,
        spark.createDataFrame([Row(k=2, color="1", v=20, is_delete=False)]),
        delete_col="is_delete",
    )
    sync_secondary_index(spark, idx)
    assert via_index("9") == {}
    from mcp_local_rag_spark.plans.ivm import ivm_read

    assert ivm_read(spark, idx).filter(F.col("color") == "9").count() == 0


def test_secondary_index_stale_lookup_raises(spark, tmp_path):
    """A lookup against an index lagging its source raises (it would
    silently miss rows); stale_ok=True reads as-of the cursor."""
    from mcp_local_rag_spark.plans.merge import create_merge_table, merge_into
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
        sync_secondary_index,
    )

    src = str(tmp_path / "src3")
    idx = str(tmp_path / "idx3")
    base = spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("c")
    )
    create_merge_table(base, src, "k", n_buckets=4)
    create_secondary_index(spark, src, idx, "c", n_buckets=4)
    assert lookup_by(spark, idx, "1").count() == 10

    merge_into(
        spark, src,
        spark.createDataFrame([Row(k=99, c="1", is_delete=False)]),
        delete_col="is_delete",
    )
    with pytest.raises(ValueError, match="stale"):
        lookup_by(spark, idx, "1")
    assert lookup_by(spark, idx, "1", stale_ok=True).count() == 10
    sync_secondary_index(spark, idx)
    assert lookup_by(spark, idx, "1").count() == 11


def _file_ranges(table_path, data_dir, col):
    """Per-bucket list of per-FILE (min,max) for col, read from parquet
    row-group stats (what the scan-side skipping consults)."""
    import pyarrow.parquet as pq

    root = os.path.join(table_path, data_dir)
    out = {}
    for name in sorted(os.listdir(root)):
        if not name.startswith("bucket="):
            continue
        ranges = []
        bdir = os.path.join(root, name)
        for f in sorted(os.listdir(bdir)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(bdir, f)).metadata
            ci = [md.schema.column(i).name for i in range(md.num_columns)].index(col)
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                los.append(st.min)
                his.append(st.max)
            ranges.append((min(los), max(his)))
        out[name] = ranges
    return out


def test_optimize_table_clusters_rowgroups(spark, tmp_path):
    """Clustered compaction: after optimize_table the per-file min/max
    ranges on the cluster column are DISJOINT inside every bucket (the
    stats a range scan skips on), rows and time travel are untouched,
    and the manifest records the clustering."""
    from mcp_local_rag_spark.plans.merge import optimize_table

    tbl = str(tmp_path / "opt")
    # ts is deliberately uncorrelated with the key so pre-optimize files
    # span the whole ts range
    base = spark.range(800).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 10_000).alias("ts"),
        F.col("id").alias("v"),
    )
    create_merge_table(base, tbl, "k", n_buckets=4)
    before = sorted(
        (r["k"], r["ts"], r["v"])
        for r in read_snapshot(spark, tbl).collect()
    )

    v = optimize_table(spark, tbl, ["ts"], max_records_per_file=60)
    assert v == 2
    m = read_manifest(tbl)
    assert m["clustered"] == {"cols": ["ts"], "curve": "linear"}

    after = sorted(
        (r["k"], r["ts"], r["v"])
        for r in read_snapshot(spark, tbl).collect()
    )
    assert after == before
    assert sorted(
        (r["k"], r["ts"], r["v"])
        for r in read_snapshot(spark, tbl, version=1).collect()
    ) == before

    (d,) = set(m["buckets"].values())
    ranges = _file_ranges(tbl, d, "ts")
    for bucket, rs in ranges.items():
        assert len(rs) >= 3, (bucket, rs)  # maxRecordsPerFile split
        rs = sorted(rs)
        for (lo1, hi1), (lo2, hi2) in zip(rs, rs[1:]):
            assert hi1 <= lo2, (bucket, rs)  # disjoint -> skippable


def test_optimize_table_zorder_tightens_both_dims(spark, tmp_path):
    """Morton clustering: per-file widths shrink on BOTH dimensions vs
    the global range (a linear sort can only tighten its first column)."""
    from mcp_local_rag_spark.plans.merge import optimize_table

    tbl = str(tmp_path / "optz")
    # default depth: 1000 rows / 4 files per bucket still separates morton
    # (avg width ~500-600) from the 700 bound; FULL restores the 2000-row
    # 8-file grid (verify-window trim, r16)
    n_rows = 2000 if os.environ.get("SPARK_GRAFT_FULL_TESTS") else 1000
    base = spark.range(n_rows).select(
        F.col("id").alias("k"),
        ((F.col("id") * 2654435761) % 1000).alias("x"),
        ((F.col("id") * 40503) % 1000).alias("y"),
    )
    create_merge_table(base, tbl, "k", n_buckets=2)
    before = sorted(
        (r["k"], r["x"], r["y"])
        for r in read_snapshot(spark, tbl).collect()
    )
    optimize_table(
        spark, tbl, ["x", "y"], curve="morton", max_records_per_file=125
    )
    assert sorted(
        (r["k"], r["x"], r["y"])
        for r in read_snapshot(spark, tbl).collect()
    ) == before
    m = read_manifest(tbl)
    assert m["clustered"]["curve"] == "morton"
    assert "_zkey" not in read_snapshot(spark, tbl).columns
    (d,) = set(m["buckets"].values())
    for col in ("x", "y"):
        widths = [
            hi - lo
            for rs in _file_ranges(tbl, d, col).values()
            for lo, hi in rs
        ]
        avg = sum(widths) / len(widths)
        assert avg < 700, (col, widths)  # global width 1000; random ~999


@pytest.mark.slow
def test_ivm_randomized_fold_converges(spark, tmp_path):
    """Seeded randomized history over the full measure algebra: random
    batch partitioning + interleaved random retractions of previously
    applied rows must land exactly on the batch aggregate of the
    surviving multiset (count/sum/hist checked exactly; min/max and HLL
    over the APPEND-ONLY prefix in a parallel view)."""
    import random

    rng = random.Random(1009)
    path = str(tmp_path / "ivm_rand")
    n = 1500
    ev = _events(spark, n).withColumn(
        "bin", (F.col("event_id") % 6).cast("string")
    )
    measures = [
        ("cnt", "count", None),
        ("total", "sum", "amount"),
        ("h", "hist", "bin"),
    ]
    ivm_create(spark, path, ev, KEYS, measures, n_buckets=4)

    # random partition of event_ids into 5 batches
    ids = list(range(n))
    rng.shuffle(ids)
    cuts = sorted(rng.sample(range(1, n), 4))
    batches = [
        ids[a:b] for a, b in zip([0] + cuts, cuts + [n])
    ]
    alive: set[int] = set()
    for i, batch in enumerate(batches):
        ivm_apply(
            spark, path,
            ev.filter(F.col("event_id").isin(batch)),
            KEYS, measures,
        )
        alive.update(batch)
        # retract a random subset of everything applied so far
        kill = rng.sample(sorted(alive), k=len(alive) // 4)
        if kill:
            ivm_apply(
                spark, path,
                ev.filter(F.col("event_id").isin(kill)),
                KEYS, measures, weight=-1,
            )
            alive.difference_update(kill)

    survivors = ev.filter(F.col("event_id").isin(sorted(alive)))
    exp = {
        r["grp"]: (r["cnt"], r["total"], dict(r["h"]))
        for r in survivors.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("amount").cast("decimal(18,6)").alias("total"),
            F.map_from_entries(
                F.collect_list(F.struct("bin", F.lit(1).cast("long")))
            ).alias("_x"),
        )
        .drop("_x")
        .join(
            survivors.groupBy("grp", "bin")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("grp")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("bin", "c"))
                ).alias("h")
            ),
            "grp",
        )
        .collect()
    }
    got = {
        r["grp"]: (r["cnt"], r["total"], dict(r["h"]))
        for r in ivm_read(spark, path)
        .select(
            "grp", "cnt",
            F.col("total").cast("decimal(18,6)").alias("total"), "h",
        )
        .collect()
    }
    assert got == exp


def test_view_sync_survives_source_rebucket(spark, tmp_path):
    """Partition evolution under a maintained view: the source rebuckets
    (every bucket rewritten, rows unchanged), then takes a CDC merge; the
    view's next sync folds ONLY the real changes (the rebucket version
    diffs as all-carried rows) and converges to the declarative answer."""
    from mcp_local_rag_spark.plans.changefeed import (
        create_view_over_table,
        sync_view_auto,
    )
    from mcp_local_rag_spark.plans.merge import rebucket

    src = str(tmp_path / "srcrb")
    view = str(tmp_path / "viewrb")
    base = spark.range(90).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    create_merge_table(base, src, "k", n_buckets=4)
    create_view_over_table(
        spark, src, view, ["g"],
        [("cnt", "count", None), ("total", "sum", "v")], n_buckets=4,
    )
    rebucket(spark, src, 16)  # v2: all buckets move, no row changes
    merge_into(  # v3: one real update + one insert
        spark, src,
        spark.createDataFrame(
            [Row(k=0, g="0", v=1000, is_delete=False),
             Row(k=900, g="1", v=7, is_delete=False)],
        ),
        delete_col="is_delete",
    )
    assert sync_view_auto(spark, view) == 3
    got = {
        r["g"]: (r["cnt"], r["total"])
        for r in __import__("mcp_local_rag_spark.plans.ivm", fromlist=["ivm_read"])
        .ivm_read(spark, view)
        .collect()
    }
    exp = {
        r["g"]: (r["cnt"], r["total"])
        for r in read_snapshot(spark, src)
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
        .collect()
    }
    assert got == exp


def test_ivm_theta_set_algebra_and_kll_quantiles(spark, tmp_path):
    """theta: folded sketches stay exact (≤4096 entries) and support set
    DIFFERENCE across two maintained views — 'values in group A's stream
    never seen in group B's'. approx_quantile: the KLL fold's median is
    within the sketch's normalized rank-error bound of the true rank."""
    path = str(tmp_path / "ivm_tq")
    ev = _events(spark, 3000).withColumn(
        "x", F.col("event_id").cast("double")
    )
    measures = [
        ("cnt", "count", None),
        ("users", "theta", "event_id"),
        ("xq", "approx_quantile", "x"),
    ]
    ivm_create(spark, path, ev, KEYS, measures, n_buckets=4)
    for part in (2, 0, 1):
        ivm_apply(
            spark, path, ev.filter(F.pmod("event_id", F.lit(3)) == part),
            KEYS, measures,
        )
    view = ivm_read(spark, path)
    # theta estimates exact per group (<=429 entries each)
    got = {
        r["grp"]: r["ndv"]
        for r in view.select(
            "grp", F.theta_sketch_estimate("users").cast("long").alias("ndv")
        ).collect()
    }
    exp = {
        r["grp"]: r["ndv"]
        for r in ev.groupBy("grp")
        .agg(F.countDistinct("event_id").alias("ndv"))
        .collect()
    }
    assert got == exp
    # set difference across two groups' sketches: ids in grp 0 never in
    # grp 1 — disjoint by construction (id % 7), so |A \ B| = |A|
    two = {r["grp"]: r["users"] for r in view.filter(F.col("grp") < 2).collect()}
    d = (
        spark.range(1)
        .select(
            F.theta_sketch_estimate(
                F.theta_difference(F.lit(two[0]), F.lit(two[1]))
            )
            .cast("long")
            .alias("d")
        )
        .first()["d"]
    )
    assert d == exp[0]
    # KLL median: true rank of the returned value within ~2% of 0.5
    meds = {
        r["grp"]: r["m"]
        for r in view.select(
            "grp", F.kll_sketch_get_quantile_double("xq", F.lit(0.5)).alias("m")
        ).collect()
    }
    for g, m in meds.items():
        xs = sorted(
            r["x"] for r in ev.filter(F.col("grp") == g).select("x").collect()
        )
        rank = sum(1 for x in xs if x <= m) / len(xs)
        assert abs(rank - 0.5) < 0.03, (g, m, rank)
    with pytest.raises(ValueError, match="no inverse"):
        ivm_apply(spark, path, ev.limit(3), KEYS, measures, weight=-1)


def test_secondary_index_as_of_lookup(spark, tmp_path):
    """at_source_version: both sides time travel to the cursor-matched
    versions, returning the lookup as it stood at that source version —
    even after later merges moved the value's membership."""
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
        sync_secondary_index,
    )

    src = str(tmp_path / "srcav")
    idx = str(tmp_path / "idxav")
    base = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("c")
    )
    create_merge_table(base, src, "k", n_buckets=4)
    create_secondary_index(spark, src, idx, "c", n_buckets=4)
    v1_members = {r["k"] for r in lookup_by(spark, idx, "1").collect()}
    assert len(v1_members) == 20

    merge_into(  # v2: k=1 leaves c=1, k=100 joins it
        spark, src,
        spark.createDataFrame(
            [Row(k=1, c="0", is_delete=False),
             Row(k=100, c="1", is_delete=False)],
        ),
        delete_col="is_delete",
    )
    sync_secondary_index(spark, idx)
    now = {r["k"] for r in lookup_by(spark, idx, "1").collect()}
    assert 1 not in now and 100 in now

    asof = {
        r["k"]
        for r in lookup_by(spark, idx, "1", at_source_version=1).collect()
    }
    assert asof == v1_members
    with pytest.raises(ValueError, match="no index version"):
        lookup_by(spark, idx, "1", at_source_version=99)


def test_view_with_sketch_measures_syncs_append_only(spark, tmp_path):
    """Changefeed views carrying non-invertible measures ARE syncable
    over append-only ranges (the retract half commits as a data-less
    cursor key); a range with a delete raises a clear error instead of
    folding a wrong answer."""
    from mcp_local_rag_spark.plans.changefeed import (
        create_view_over_table,
        sync_view_auto,
    )

    src = str(tmp_path / "srcap")
    view = str(tmp_path / "viewap")
    base = spark.range(60).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 2).alias("v"),
    )
    create_merge_table(base, src, "k", n_buckets=4)
    create_view_over_table(
        spark, src, view, ["g"],
        [("cnt", "count", None), ("vmax", "max", "v"),
         ("nd", "approx_ndv", "k")],
        n_buckets=4,
    )
    merge_into(  # insert-only CDC batch
        spark, src,
        spark.createDataFrame(
            [Row(k=100, g="1", v=9999, is_delete=False),
             Row(k=101, g="2", v=5, is_delete=False)],
        ),
        delete_col="is_delete",
    )
    assert sync_view_auto(spark, view) == 2
    got = {
        r["g"]: (r["cnt"], r["vmax"], r["nd"])
        for r in ivm_read(spark, view)
        .select("g", "cnt", "vmax", F.hll_sketch_estimate("nd").alias("nd"))
        .collect()
    }
    exp = {
        r["g"]: (r["cnt"], r["vmax"], r["nd"])
        for r in read_snapshot(spark, src)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("v").alias("vmax"),
            F.countDistinct("k").alias("nd"),
        )
        .collect()
    }
    assert got == exp
    # re-sync is a no-op (cursor advanced past the data-less retract key)
    assert sync_view_auto(spark, view) is None

    merge_into(  # now a DELETE arrives: the view must refuse, loudly
        spark, src,
        spark.createDataFrame([Row(k=100, g="1", v=0, is_delete=True)]),
        delete_col="is_delete",
    )
    with pytest.raises(ValueError, match="append-only"):
        sync_view_auto(spark, view)


def test_ivm_all_map_measures_keep_null_valued_groups(spark, tmp_path):
    """A view whose measures are ALL map-kind still carries every group:
    a group whose first map column is entirely NULL must not lose its
    other maps (the hidden base aggregate covers all delta rows)."""
    path = str(tmp_path / "ivm_nullmap")
    ev = spark.createDataFrame(
        [Row(grp=0, a="x", b="p"), Row(grp=0, a="y", b="p"),
         Row(grp=1, a=None, b="q"), Row(grp=1, a=None, b="r")],
    )
    measures = [("ha", "hist", "a"), ("hb", "hist", "b")]
    ivm_create(spark, path, ev, ["grp"], measures, n_buckets=2)
    ivm_apply(spark, path, ev, ["grp"], measures)
    got = {
        r["grp"]: (dict(r["ha"] or {}), dict(r["hb"] or {}))
        for r in ivm_read(spark, path).collect()
    }
    assert got == {
        0: ({"x": 1, "y": 1}, {"p": 2}),
        1: ({}, {"q": 1, "r": 1}),
    }


def test_key_lookup_schema_stable_across_evolution(spark, tmp_path):
    """After a schema-evolving merge, point reads on UNTOUCHED buckets
    null-fill the evolved columns from the manifest schema — the row
    shape never depends on which bucket the key hashed into."""
    from mcp_local_rag_spark.plans.merge import key_lookup

    tbl = str(tmp_path / "ptev")
    base = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    create_merge_table(base, tbl, "k", n_buckets=8)
    merge_into(
        spark, tbl,
        spark.createDataFrame(
            [Row(k=3, v=6, extra="new", is_delete=False)],
        ),
        delete_col="is_delete",
        schema_evolution=True,
    )
    evolved = key_lookup(spark, tbl, 3).first()
    assert evolved["extra"] == "new"
    # a key in an untouched (pre-evolution) bucket: same columns, NULL fill
    for k in range(50):
        if k == 3:
            continue
        row = key_lookup(spark, tbl, k).first()
        if row is not None:
            assert "extra" in row.asDict() and row["extra"] is None
            break


def test_secondary_index_batch_lookup(spark, tmp_path):
    """lookup_by_many: one index read + one source read answers an
    IN-list of values exactly; empty value sets return an empty frame."""
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by_many,
    )

    src = str(tmp_path / "srcbm")
    idx = str(tmp_path / "idxbm")
    base = spark.range(90).select(
        F.col("id").alias("k"),
        (F.col("id") % 9).cast("string").alias("c"),
        F.col("id").alias("v"),
    )
    create_merge_table(base, src, "k", n_buckets=8)
    create_secondary_index(spark, src, idx, "c", n_buckets=4)
    got = {
        r["k"] for r in lookup_by_many(spark, idx, ["2", "5", "nope"]).collect()
    }
    exp = {
        r["k"]
        for r in read_snapshot(spark, src)
        .filter(F.col("c").isin("2", "5"))
        .collect()
    }
    assert got == exp and len(got) == 20
    assert lookup_by_many(spark, idx, ["absent"]).count() == 0


# ---------------------------------------------------------------------------
# Null-safe IVM keys (round-11 ADVICE fix): concat_ws alone skips NULLs,
# collapsing distinct groups into one state row.


def test_ivm_null_and_empty_keys_stay_distinct(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField, StructType

    path = str(tmp_path / "nullkey")
    schema = StructType([StructField("g", StringType(), True)])
    measures = [("cnt", "count", None)]

    def delta(rows):
        return spark.createDataFrame([(r,) for r in rows], schema)

    ivm_create(spark, path, delta([]), ["g"], measures, n_buckets=4)
    ivm_apply(spark, path, delta([None, "", None, "x"]), ["g"], measures)
    ivm_apply(spark, path, delta(["", None]), ["g"], measures)
    got = {
        r["g"]: r["cnt"] for r in ivm_read(spark, path).collect()
    }
    assert got == {None: 3, "": 2, "x": 1}
    # retracting one NULL touches only the NULL group
    ivm_apply(spark, path, delta([None]), ["g"], measures, weight=-1)
    got = {r["g"]: r["cnt"] for r in ivm_read(spark, path).collect()}
    assert got == {None: 2, "": 2, "x": 1}


def test_ivm_two_column_null_keys_stay_distinct(spark, tmp_path):
    from pyspark.sql.types import StringType, StructField, StructType

    path = str(tmp_path / "nullkey2")
    schema = StructType(
        [StructField("a", StringType(), True), StructField("b", StringType(), True)]
    )
    measures = [("cnt", "count", None)]
    rows = [(None, "x"), ("x", None), ("x", "x"), (None, None), (None, "x")]
    df = spark.createDataFrame(rows, schema)
    ivm_create(spark, path, df.limit(0), ["a", "b"], measures, n_buckets=4)
    ivm_apply(spark, path, df, ["a", "b"], measures)
    got = {
        (r["a"], r["b"]): r["cnt"] for r in ivm_read(spark, path).collect()
    }
    assert got == {
        (None, "x"): 2,
        ("x", None): 1,
        ("x", "x"): 1,
        (None, None): 1,
    }


def test_ivm_separator_bearing_keys_cannot_collide(spark, tmp_path):
    """Values containing the key separator / escape / null sentinel must
    not produce colliding state keys: ('a\\x1fb', 'c') != ('a', 'b\\x1fc')
    and the escape char round-trips."""
    from pyspark.sql.types import StringType, StructField, StructType

    path = str(tmp_path / "sepkey")
    schema = StructType(
        [StructField("a", StringType(), True), StructField("b", StringType(), True)]
    )
    measures = [("cnt", "count", None)]
    rows = [
        ("a\x1fb", "c"),
        ("a", "b\x1fc"),
        ("a\x1e", "b"),
        ("a", "\x1eb"),
        ("\x00", None),
        (None, "\x00"),
    ]
    df = spark.createDataFrame(rows, schema)
    ivm_create(spark, path, df.limit(0), ["a", "b"], measures, n_buckets=4)
    ivm_apply(spark, path, df, ["a", "b"], measures)
    got = {(r["a"], r["b"]): r["cnt"] for r in ivm_read(spark, path).collect()}
    assert got == {r: 1 for r in rows}


def test_ivm_key_of_mirrors_spark_expression(spark):
    """The driver-local ivm_key_of must be bit-identical to the Spark
    ivm_key_expr for every supported type and special character."""
    from mcp_local_rag_spark.plans.ivm import ivm_key_expr, ivm_key_of

    cases = [
        ("plain", 7, True),
        (None, 0, False),
        ("", None, None),
        ("with\x1fsep", -3, True),
        ("esc\x1e\x1e", 42, False),
        ("nul\x00tok", 1, None),
    ]
    df = spark.createDataFrame(cases, "a string, b long, c boolean")
    got = [
        r["k"]
        for r in df.select(ivm_key_expr(["a", "b", "c"]).alias("k")).collect()
    ]
    assert got == [ivm_key_of(list(c)) for c in cases]


# ---------------------------------------------------------------------------
# Round-11 ADVICE fixes: vacuum grace window, wedged-CURRENT recovery,
# duplicate/null merge-source keys.


def test_vacuum_grace_keeps_young_inflight_dirs(spark, table):
    """An unreferenced data dir younger than the grace window must
    survive vacuum: it may belong to an in-flight merge that has written
    data but not yet committed its manifest."""
    from mcp_local_rag_spark.plans.merge import (
        _bucketed,
        _write_data_version,
        vacuum,
    )

    # simulate the in-flight writer: data written, manifest NOT committed
    df = _bucketed(
        spark.createDataFrame([Row(k=999, v=1, tag="inflight")]), "k", 8
    )
    inflight = _write_data_version(df, table, 2, "k", 1)
    assert vacuum(table, keep_versions=1) == []  # young: kept
    assert os.path.isdir(os.path.join(table, inflight))
    # past the grace window the orphan is collected
    removed = vacuum(table, keep_versions=1, grace_seconds=0)
    assert inflight in removed


def test_wedged_current_pointer_recovers(spark, table):
    """A writer that crashed after publishing v2.json but before flipping
    CURRENT must not livelock the table: the next merge's retry rolls
    CURRENT forward and commits v3."""
    from mcp_local_rag_spark.plans.merge import (
        key_lookup,
        repair_current,
    )

    src = spark.createDataFrame([Row(k=1, v=100, tag="w1", is_delete=False)])
    merge_into(spark, table, src, delete_col="is_delete")  # v2 committed
    # simulate the crash: rewind CURRENT to v1 (manifest v2 stays)
    cur_file = os.path.join(table, "_snapshots", "CURRENT")
    with open(cur_file, "w") as f:
        f.write("1")
    assert current_version(table) == 1
    # a plain retry-less merge would collide on v2 forever; with retries
    # the repair path adopts v2 and the merge lands as v3
    src2 = spark.createDataFrame([Row(k=2, v=200, tag="w2", is_delete=False)])
    v = merge_into(spark, table, src2, delete_col="is_delete", max_retries=2)
    assert v == 3
    assert current_version(table) == 3
    got = {r["k"]: r["v"] for r in read_snapshot(spark, table).filter(
        F.col("k").isin(1, 2)).collect()}
    assert got == {1: 100, 2: 200}  # neither writer's rows lost
    # idempotent no-op when CURRENT is already newest
    assert repair_current(table) is None


def test_merge_rejects_duplicate_and_null_source_keys(spark, table):
    with pytest.raises(ValueError, match="duplicate"):
        merge_into(
            spark,
            table,
            spark.createDataFrame(
                [Row(k=1, v=1, tag="a", is_delete=False),
                 Row(k=1, v=2, tag="b", is_delete=False)]
            ),
            delete_col="is_delete",
        )
    with pytest.raises(ValueError, match="NULL"):
        merge_into(
            spark,
            table,
            spark.createDataFrame(
                [Row(k=None, v=1, tag="a", is_delete=False)],
                "k bigint, v bigint, tag string, is_delete boolean",
            ),
            delete_col="is_delete",
        )
    # the failed merges must not have committed anything
    assert current_version(table) == 1


# ---------------------------------------------------------------------------
# Round-11 secondary-index rework: sharded posting maps (skew-proof state),
# composite keys, range lookup, NULL-valued entries.


def _skewed_table(spark, tmp_path, n=400, nb=8):
    """One indexed value ('hot') covers 90% of rows — the shape that blew
    the old one-map-row-per-value design."""
    path = str(tmp_path / "skewsrc")
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 < 9, F.lit("hot"))
        .otherwise(F.concat(F.lit("cold"), (F.col("id") % 7).cast("string")))
        .alias("grp"),
        (F.col("id") * 2).alias("v"),
    )
    create_merge_table(df, path, "k", n_buckets=nb)
    return path


def test_secondary_index_shards_bound_per_row_state(spark, tmp_path):
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
    )

    src = _skewed_table(spark, tmp_path)
    idx = str(tmp_path / "skewidx")
    create_secondary_index(spark, src, idx, "grp", n_buckets=4)
    # per-row posting maps are bounded by ~|pks| / S, never one
    # monolithic map: 360 'hot' pks over S=8 shards
    sizes = [
        (r["grp"], r["_pk_shard"], len(r["_pks"]))
        for r in read_snapshot(spark, idx).select(
            "grp", "_pk_shard", "_pks"
        ).collect()
    ]
    hot_sizes = [s for g, _, s in sizes if g == "hot"]
    assert len(hot_sizes) == 8  # sharded across S = source n_buckets
    assert max(hot_sizes) < 360  # no single monolithic map row
    assert sum(hot_sizes) == 360
    # the skewed value's lookup is exact via BOTH plans
    expected = set(range(400)) - {
        i for i in range(400) if i % 10 == 9
    }
    for cap in (1, 100_000):  # force distributed plan / IN-list plan
        got = {
            r["k"]
            for r in lookup_by(spark, idx, "hot", inlist_cap=cap).collect()
        }
        assert got == expected, f"cap={cap}"
    # a selective value stays a bounded point read
    cold = {r["k"] for r in lookup_by(spark, idx, "cold0").collect()}
    assert cold == {i for i in range(400) if i % 10 == 9 and i % 7 == 0}


def test_secondary_index_sync_maintains_shards(spark, tmp_path):
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
        sync_secondary_index,
    )

    src = _skewed_table(spark, tmp_path)
    idx = str(tmp_path / "skewidx2")
    create_secondary_index(spark, src, idx, "grp", n_buckets=4)
    # CDC: move k=0 from 'hot' to 'moved', delete k=10, insert k=1000 'hot'
    batch = spark.createDataFrame(
        [
            Row(k=0, grp="moved", v=0, is_delete=False),
            Row(k=10, grp="hot", v=20, is_delete=True),
            Row(k=1000, grp="hot", v=2000, is_delete=False),
        ]
    )
    merge_into(spark, src, batch, delete_col="is_delete")
    assert sync_secondary_index(spark, idx) == 2
    hot = {r["k"] for r in lookup_by(spark, idx, "hot").collect()}
    assert 0 not in hot and 10 not in hot and 1000 in hot
    moved = {r["k"] for r in lookup_by(spark, idx, "moved").collect()}
    assert moved == {0}


def test_secondary_index_composite_key(spark, tmp_path):
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
        lookup_by_many,
    )

    path = str(tmp_path / "compsrc")
    df = spark.range(120).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("a"),
        (F.col("id") % 4).alias("b"),
    )
    create_merge_table(df, path, "k", n_buckets=4)
    idx = str(tmp_path / "compidx")
    create_secondary_index(spark, path, idx, ["a", "b"], n_buckets=4)
    got = {
        r["k"] for r in lookup_by(spark, idx, ("1", 2)).collect()
    }
    assert got == {i for i in range(120) if i % 3 == 1 and i % 4 == 2}
    many = {
        r["k"]
        for r in lookup_by_many(spark, idx, [("0", 0), ("2", 3)]).collect()
    }
    assert many == {
        i
        for i in range(120)
        if (i % 3 == 0 and i % 4 == 0) or (i % 3 == 2 and i % 4 == 3)
    }


def test_secondary_index_null_values_lookup(spark, tmp_path):
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by,
    )

    path = str(tmp_path / "nullsrc")
    df = spark.range(60).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 5 == 0, F.lit(None).cast("string"))
        .when(F.col("id") % 5 == 1, F.lit(""))
        .otherwise(F.lit("x"))
        .alias("g"),
    )
    create_merge_table(df, path, "k", n_buckets=4)
    idx = str(tmp_path / "nullidx")
    create_secondary_index(spark, path, idx, "g", n_buckets=4)
    nulls = {r["k"] for r in lookup_by(spark, idx, None).collect()}
    assert nulls == {i for i in range(60) if i % 5 == 0}
    empty = {r["k"] for r in lookup_by(spark, idx, "").collect()}
    assert empty == {i for i in range(60) if i % 5 == 1}


def test_secondary_index_range_lookup(spark, tmp_path):
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        range_lookup,
    )

    path = str(tmp_path / "rangesrc")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 50).alias("score"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("tag"),
    )
    create_merge_table(df, path, "k", n_buckets=4)
    idx = str(tmp_path / "rangeidx")
    create_secondary_index(spark, path, idx, "score", n_buckets=4)
    got = {
        r["k"]
        for r in range_lookup(spark, idx, 10, 12).collect()
    }
    assert got == {i for i in range(300) if 10 <= i % 50 <= 12}
    half_open = {
        r["k"]
        for r in range_lookup(spark, idx, 10, 12, inclusive=False).collect()
    }
    assert half_open == {i for i in range(300) if 10 <= i % 50 < 12}
    # both selectivity plans agree
    big = {
        r["k"]
        for r in range_lookup(spark, idx, 0, 49, inlist_cap=1).collect()
    }
    assert big == set(range(300))
    # empty range: readable-empty with the source schema
    empty = range_lookup(spark, idx, 1000, 2000)
    assert empty.count() == 0 and set(empty.columns) == {"k", "score", "tag"}


def test_secondary_index_as_of_batch_and_range(spark, tmp_path):
    """AS-OF parity across ALL three lookup lanes: lookup_by_many and
    range_lookup honor at_source_version with the same cursor-matching
    contract lookup_by has — both sides time travel, so the answer is
    the lookup as it stood at that source version."""
    from mcp_local_rag_spark.plans.secondary import (
        create_secondary_index,
        lookup_by_many,
        range_lookup,
        sync_secondary_index,
    )

    src = str(tmp_path / "srcav2")
    idx = str(tmp_path / "idxav2")
    base = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 10).alias("score")
    )
    create_merge_table(base, src, "k", n_buckets=4)
    create_secondary_index(spark, src, idx, "score", n_buckets=4)
    v1_batch = {
        r["k"] for r in lookup_by_many(spark, idx, [3, 7]).collect()
    }
    v1_range = {r["k"] for r in range_lookup(spark, idx, 3, 7).collect()}

    merge_into(  # v2: k=3 leaves score=3, k=200 joins score=7
        spark, src,
        spark.createDataFrame(
            [Row(k=3, score=99, is_delete=False),
             Row(k=200, score=7, is_delete=False)],
        ),
        delete_col="is_delete",
    )
    sync_secondary_index(spark, idx)
    now_batch = {
        r["k"] for r in lookup_by_many(spark, idx, [3, 7]).collect()
    }
    assert 3 not in now_batch and 200 in now_batch

    asof_batch = {
        r["k"]
        for r in lookup_by_many(
            spark, idx, [3, 7], at_source_version=1
        ).collect()
    }
    assert asof_batch == v1_batch and 3 in asof_batch
    asof_range = {
        r["k"]
        for r in range_lookup(
            spark, idx, 3, 7, at_source_version=1
        ).collect()
    }
    assert asof_range == v1_range and 200 not in asof_range
    for fn, args in ((lookup_by_many, ([3],)), (range_lookup, (3, 7))):
        with pytest.raises(ValueError, match="no index version"):
            fn(spark, idx, *args, at_source_version=99)


# ---------------------------------------------------------------------------
# OPTIMIZE vs MERGE concurrency (round-11): the race must serialize via
# ConcurrentCommitError/retry or fail loudly — never silently drop the
# optimizer's clustering or the merger's rows.


def test_merge_racing_optimize_serializes_and_keeps_clustering(
    spark, table, monkeypatch
):
    import pyarrow.parquet as pq

    from mcp_local_rag_spark.plans import merge as merge_mod
    from mcp_local_rag_spark.plans.merge import optimize_table, read_manifest

    real_commit = merge_mod._commit
    state = {"raced": False}

    def racing_commit(table_path, manifest, version):
        # inject a full OPTIMIZE between the merge's manifest read and
        # its commit — the merge loses the version race deterministically
        if not state["raced"]:
            state["raced"] = True
            optimize_table(spark, table_path, ["v"])
        return real_commit(table_path, manifest, version)

    monkeypatch.setattr(merge_mod, "_commit", racing_commit)
    src = spark.createDataFrame(
        [Row(k=5, v=-1, tag="raced", is_delete=False),
         Row(k=300, v=-2, tag="new", is_delete=False)]
    )
    v = merge_into(spark, table, src, delete_col="is_delete", max_retries=2)
    assert v == 3  # v2 = optimize (won), v3 = merge (re-derived)
    manifest = read_manifest(table)
    # the merger's rows landed AND the optimizer's clustering survived
    assert manifest["clustered"] == {"cols": ["v"], "curve": "linear"}
    got = {r["k"]: (r["v"], r["tag"]) for r in read_snapshot(spark, table)
           .filter(F.col("k").isin(5, 300, 7)).collect()}
    assert got[5] == (-1, "raced") and got[300] == (-2, "new")
    assert got[7] == (21, "row7")  # untouched row intact
    # rewritten buckets honor the cluster order (v ascending inside files)
    new_dirs = {
        d for b, d in manifest["buckets"].items() if d.startswith("data_v3")
    }
    assert new_dirs
    for d in new_dirs:
        root = os.path.join(table, d)
        for bname in os.listdir(root):
            if not bname.startswith("bucket="):
                continue
            for fname in os.listdir(os.path.join(root, bname)):
                if fname.endswith(".parquet"):
                    vs = pq.read_table(
                        os.path.join(root, bname, fname), columns=["v"]
                    )["v"].to_pylist()
                    assert vs == sorted(vs)


def test_optimize_racing_merge_fails_loudly(spark, table, monkeypatch):
    from mcp_local_rag_spark.plans import merge as merge_mod
    from mcp_local_rag_spark.plans.merge import (
        ConcurrentCommitError,
        optimize_table,
        read_manifest,
    )

    real_commit = merge_mod._commit
    state = {"raced": False}

    def racing_commit(table_path, manifest, version):
        if not state["raced"]:
            state["raced"] = True
            src = spark.createDataFrame(
                [Row(k=1, v=111, tag="winner", is_delete=False)]
            )
            merge_into(spark, table_path, src, delete_col="is_delete")
        return real_commit(table_path, manifest, version)

    monkeypatch.setattr(merge_mod, "_commit", racing_commit)
    with pytest.raises(ConcurrentCommitError):
        optimize_table(spark, table, ["v"])
    # the winning merge is intact; the lost optimize left no marker
    assert read_manifest(table).get("clustered") is None
    got = read_snapshot(spark, table).filter(F.col("k") == 1).first()
    assert got["v"] == 111 and got["tag"] == "winner"


# ---------------------------------------------------------------------------
# Serving-path point reads (plans/point_read): pyarrow sidecar parity vs
# the Spark-plan lanes — same manifests, same files, no Spark job.


def test_snapshot_reader_parity_with_key_lookup(spark, table):
    from mcp_local_rag_spark.plans.merge import key_lookup
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    src = spark.createDataFrame(
        [Row(k=5, v=None, tag="edited", is_delete=False),
         Row(k=7, v=1, tag="x", is_delete=True),
         Row(k=900, v=2, tag="new", is_delete=False)]
    )
    merge_into(spark, table, src, delete_col="is_delete")
    reader = SnapshotReader(table)
    for key in (5, 7, 900, 123456):
        for version in (None, 1):
            want = [
                r.asDict()
                for r in key_lookup(spark, table, key, version=version)
                .drop("bucket")
                .collect()
            ]
            got = reader.lookup(key, version=version)
            assert got == want, (key, version)


def test_snapshot_reader_schema_evolution_null_fills(spark, table):
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    src = spark.createDataFrame(
        [Row(k=3, v=9, tag="evolved", extra="E", is_delete=False)]
    )
    merge_into(spark, table, src, delete_col="is_delete",
               schema_evolution=True)
    reader = SnapshotReader(table)
    # k=3's bucket was rewritten with the new column
    assert reader.lookup(3)[0]["extra"] == "E"
    # an untouched bucket's file lacks `extra`: null-filled, same shape
    other = reader.lookup(4)
    assert other and other[0]["extra"] is None
    # same shape as a rewritten bucket (manifest columns are JSON-sorted,
    # matching key_lookup's manifest-aligned projection)
    assert list(other[0]) == list(reader.lookup(3)[0])


def test_snapshot_reader_stays_fresh_across_commits(spark, table):
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    reader = SnapshotReader(table)
    assert reader.lookup(50)[0]["v"] == 150  # warm the caches at v1
    src = spark.createDataFrame([Row(k=50, v=-5, tag="upd", is_delete=False)])
    merge_into(spark, table, src, delete_col="is_delete")
    assert reader.lookup(50)[0]["v"] == -5  # CURRENT re-read per lookup
    assert reader.lookup(50, version=1)[0]["v"] == 150


def test_writers_self_heal_wedged_pointer(spark, tmp_path):
    """EVERY writer entry point (not just merge retries) heals a stale
    CURRENT pointer: an ivm_apply against a view whose last committer
    crashed before the pointer flip must adopt the published manifest
    and commit on top of it."""
    from pyspark.sql.types import StringType, StructField, StructType

    path = str(tmp_path / "healview")
    schema = StructType([StructField("g", StringType(), True)])
    measures = [("cnt", "count", None)]

    def delta(rows):
        return spark.createDataFrame([(r,) for r in rows], schema)

    ivm_create(spark, path, delta([]), ["g"], measures, n_buckets=2)
    ivm_apply(spark, path, delta(["a", "a", "b"]), ["g"], measures)  # v2
    with open(os.path.join(path, "_snapshots", "CURRENT"), "w") as f:
        f.write("1")  # simulate crash-before-flip
    v = ivm_apply(spark, path, delta(["b"]), ["g"], measures)
    assert v == 3  # healed to v2, then committed v3 — no collision
    got = {r["g"]: r["cnt"] for r in ivm_read(spark, path).collect()}
    assert got == {"a": 2, "b": 2}


def test_vacuum_protects_consumer_cursors(spark, table, tmp_path):
    """vacuum(protect_consumers=[view]) retains every source manifest
    from the laggiest consumer's cursor forward, so a later sync still
    reads its change range; without protection the same retention would
    strand the cursor."""
    from mcp_local_rag_spark.plans.changefeed import (
        create_view_over_table,
        sync_view,
    )
    from mcp_local_rag_spark.plans.ivm import ivm_read
    from mcp_local_rag_spark.plans.merge import list_versions, vacuum

    view = str(tmp_path / "lagview")
    keys = ["tag"]
    measures = [("cnt", "count", None), ("sum_v", "sum", "v")]
    create_view_over_table(spark, table, view, keys, measures, n_buckets=2)
    # source moves two versions ahead of the view's cursor (still 1)
    for k, v in ((1, 111), (2, 222)):
        merge_into(
            spark, table,
            spark.createDataFrame([Row(k=k, v=v, tag="hot", is_delete=False)]),
            delete_col="is_delete",
        )
    removed = vacuum(
        table, keep_versions=1, grace_seconds=0, protect_consumers=[view]
    )
    # v1 (the cursor) and everything after must survive retention
    assert set(list_versions(table)) == {1, 2, 3}
    sync_view(spark, table, view, keys, measures)  # must not raise
    got = {r["tag"]: r["cnt"] for r in ivm_read(spark, view).collect()}
    assert got["hot"] == 2  # k=1's tag changed to hot, plus k=2
    # with the consumer caught up, plain retention now retires history
    # (dirs v3 still references — untouched buckets — survive)
    vacuum(table, keep_versions=1, grace_seconds=0,
           protect_consumers=[view])
    assert list_versions(table) == [3]
    assert read_snapshot(spark, table).count() == 200  # both were updates


def test_merge_expectations_fail_and_drop(spark, table):
    """Delta-style CHECK constraints on MERGE: 'fail' rejects the whole
    batch atomically (nothing committed), 'drop' merges only clean rows;
    delete rows bypass the rules (they remove data, not write it)."""
    from mcp_local_rag_spark.plans.merge import ExpectationError

    rules = [("v_nonneg", "v >= 0"), ("tag_set", "tag IS NOT NULL")]
    bad_batch = spark.createDataFrame(
        [
            Row(k=1, v=-5, tag="x", is_delete=False),     # violates v_nonneg
            Row(k=2, v=7, tag=None, is_delete=False),     # violates tag_set
            Row(k=3, v=8, tag="ok", is_delete=False),     # clean update
            Row(k=4, v=-1, tag=None, is_delete=True),     # delete: exempt
        ],
        "k bigint, v bigint, tag string, is_delete boolean",
    )
    with pytest.raises(ExpectationError) as ei:
        merge_into(
            spark, table, bad_batch, delete_col="is_delete",
            expectations=rules,
        )
    assert ei.value.metrics["viol_v_nonneg"] == 1
    assert ei.value.metrics["viol_tag_set"] == 1
    assert current_version(table) == 1  # nothing committed

    v = merge_into(
        spark, table, bad_batch, delete_col="is_delete",
        expectations=rules, on_violation="drop",
    )
    assert v == 2
    snap = {r["k"]: (r["v"], r["tag"]) for r in read_snapshot(spark, table)
            .filter(F.col("k").isin(1, 2, 3, 4)).collect()}
    assert snap[3] == (8, "ok")        # clean row merged
    assert snap[1] == (3, "row1")      # violating update skipped
    assert snap[2] == (6, "row2")      # violating update skipped
    assert 4 not in snap               # delete went through

    # a fully clean batch under the same rules commits normally
    v = merge_into(
        spark, table,
        spark.createDataFrame([Row(k=5, v=50, tag="z", is_delete=False)]),
        delete_col="is_delete", expectations=rules,
    )
    assert v == 3

    # a typo'd on_violation fails UP FRONT — even on a clean batch, not
    # weeks later when the first bad row finally arrives
    with pytest.raises(ValueError, match="on_violation"):
        merge_into(
            spark, table,
            spark.createDataFrame(
                [Row(k=6, v=60, tag="w", is_delete=False)]
            ),
            delete_col="is_delete", expectations=rules,
            on_violation="quarantine",
        )
    assert current_version(table) == 3


# ---------------------------------------------------------------------------
# Metadata-only schema evolution beyond ADD: rename/drop via the
# manifest's append-only schema log (round 11). Zero data rewritten.


def test_rename_column_is_metadata_only(spark, table):
    from mcp_local_rag_spark.plans.merge import (
        key_lookup,
        read_manifest,
        rename_column,
    )
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    dirs_before = {
        n for n in os.listdir(table) if n.startswith("data_v")
    }
    v = rename_column(table, "v", "val")
    assert v == 2
    assert {
        n for n in os.listdir(table) if n.startswith("data_v")
    } == dirs_before  # nothing rewritten
    snap = read_snapshot(spark, table)
    assert "val" in snap.columns and "v" not in snap.columns
    assert snap.filter(F.col("k") == 7).first()["val"] == 21
    # time travel keeps the OLD name at the old version
    old = read_snapshot(spark, table, version=1)
    assert "v" in old.columns and "val" not in old.columns
    # point reads (Spark-plan and serving) see the new name
    assert key_lookup(spark, table, 7).first()["val"] == 21
    assert SnapshotReader(table).lookup(7)[0]["val"] == 21
    # a merge against the renamed schema works and keeps the log
    merge_into(
        spark, table,
        spark.createDataFrame([Row(k=7, val=99, tag="upd", is_delete=False)]),
        delete_col="is_delete",
    )
    assert read_manifest(table)["schema_log"]
    assert key_lookup(spark, table, 7).first()["val"] == 99
    assert SnapshotReader(table).lookup(8)[0]["val"] == 24  # pre-rename dir


def test_rename_key_column_keeps_routing(spark, table):
    from mcp_local_rag_spark.plans.merge import key_lookup, rename_column
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    rename_column(table, "k", "pk")
    got = key_lookup(spark, table, 13).first()
    assert got["pk"] == 13 and got["v"] == 39
    assert SnapshotReader(table).lookup(13)[0]["pk"] == 13
    merge_into(
        spark, table,
        spark.createDataFrame([Row(pk=13, v=-1, tag="r", is_delete=False)]),
        delete_col="is_delete",
    )
    assert key_lookup(spark, table, 13).first()["v"] == -1


def test_drop_column_and_readd_reads_null_from_old_dirs(spark, table):
    from mcp_local_rag_spark.plans.merge import (
        drop_column,
        key_lookup,
        rename_column,
    )
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    drop_column(table, "tag")  # v2, metadata-only
    snap = read_snapshot(spark, table)
    assert "tag" not in snap.columns
    assert "tag" not in key_lookup(spark, table, 5).columns
    assert "tag" not in SnapshotReader(table).lookup(5)[0]
    # old snapshot still shows it
    assert read_snapshot(spark, table, version=1).filter(
        F.col("k") == 5
    ).first()["tag"] == "row5"
    # re-add the NAME via schema evolution: old dirs read NULL (new
    # lineage), never the dropped bytes
    merge_into(
        spark, table,
        spark.createDataFrame([Row(k=5, v=0, tag="new-lineage",
                                   is_delete=False)]),
        delete_col="is_delete", schema_evolution=True,
    )
    got = {r["k"]: r["tag"] for r in read_snapshot(spark, table)
           .filter(F.col("k").isin(5, 6)).collect()}
    assert got[5] == "new-lineage"
    assert got[6] is None  # pre-drop dir: NULL, not 'row6'
    assert SnapshotReader(table).lookup(6)[0]["tag"] is None
    # guards
    with pytest.raises(ValueError, match="primary key"):
        drop_column(table, "k")
    with pytest.raises(ValueError, match="already exists"):
        rename_column(table, "v", "tag")


def test_cdf_across_rename(spark, table):
    """read_changes spanning a rename compares old dirs under the NEW
    names — a rename alone yields no row changes."""
    from mcp_local_rag_spark.plans.merge import read_changes, rename_column

    rename_column(table, "v", "val")  # v2
    assert read_changes(spark, table, 1, 2).count() == 0
    merge_into(
        spark, table,
        spark.createDataFrame([Row(k=1, val=500, tag="c", is_delete=False)]),
        delete_col="is_delete",
    )  # v3
    ch = {r["_change_type"]: r for r in read_changes(spark, table, 1, 3)
          .collect()}
    assert set(ch) == {"update_preimage", "update_postimage"}
    assert ch["update_preimage"]["val"] == 3
    assert ch["update_postimage"]["val"] == 500


@pytest.mark.slow
def test_schema_log_randomized_against_model(spark, tmp_path):
    """Seeded random walk of warehouse ops — upsert, delete, ADD column
    (schema-evolving merge), RENAME, DROP, re-add of dropped names —
    checked after every step against a pure-python model, plus
    time-travel spot checks against the model's recorded history and
    serving-path point reads. The schema log must keep every reader
    exact through any interleaving."""
    import copy
    import random

    from mcp_local_rag_spark.plans.merge import (
        create_merge_table,
        drop_column,
        read_manifest,
        rename_column,
    )
    from mcp_local_rag_spark.plans.point_read import SnapshotReader

    rng = random.Random(1106)
    path = str(tmp_path / "fuzz")
    keys = list(range(24))
    # model: key -> {col: value}; cols: current non-key schema
    cols = ["c0", "c1"]
    model = {
        k: {"c0": k * 10, "c1": k * 100} for k in keys if k % 3 != 2
    }
    rows = [
        Row(k=k, **{c: v for c, v in m.items()}) for k, m in model.items()
    ]
    df = spark.createDataFrame(
        rows, "k bigint, " + ", ".join(f"{c} bigint" for c in cols)
    )
    create_merge_table(df, path, "k", n_buckets=4)
    history = {1: (copy.deepcopy(model), list(cols))}
    version = 1
    next_col = 2

    def spark_state():
        got = {}
        for r in read_snapshot(spark, path).drop("bucket").collect():
            d = r.asDict()
            got[d.pop("k")] = d
        return got

    def model_full(m, cs):
        # model rows padded with None for columns the row never carried
        return {
            k: {c: row.get(c) for c in cs} for k, row in m.items()
        }

    for step in range(18):
        op = rng.choice(["upsert", "upsert", "delete", "add", "rename", "drop"])
        if op == "upsert":
            picks = rng.sample(keys, rng.randint(1, 5))
            batch = []
            for k in picks:
                vals = {c: rng.randint(0, 999) for c in cols}
                model[k] = vals
                batch.append(
                    Row(k=k, **vals, is_delete=False)
                )
            src = spark.createDataFrame(
                batch,
                "k bigint, "
                + ", ".join(f"{c} bigint" for c in cols)
                + ", is_delete boolean",
            )
            version = merge_into(spark, path, src, delete_col="is_delete")
        elif op == "delete":
            present = [k for k in keys if k in model]
            if not present:
                continue
            k = rng.choice(present)
            model.pop(k)
            src = spark.createDataFrame(
                [Row(k=k, **{c: None for c in cols}, is_delete=True)],
                "k bigint, "
                + ", ".join(f"{c} bigint" for c in cols)
                + ", is_delete boolean",
            )
            version = merge_into(spark, path, src, delete_col="is_delete")
        elif op == "add":
            new = f"c{next_col}"
            next_col += 1
            picks = rng.sample([k for k in keys if k in model] or keys, 2)
            batch = []
            for k in picks:
                vals = {c: rng.randint(0, 999) for c in cols}
                vals[new] = rng.randint(0, 999)
                model[k] = vals
                batch.append(Row(k=k, **vals, is_delete=False))
            cols.append(new)
            src = spark.createDataFrame(
                batch,
                "k bigint, "
                + ", ".join(f"{c} bigint" for c in cols)
                + ", is_delete boolean",
            )
            version = merge_into(
                spark, path, src, delete_col="is_delete",
                schema_evolution=True,
            )
        elif op == "rename":
            old = rng.choice(cols)
            new = f"c{next_col}"
            next_col += 1
            version = rename_column(path, old, new)
            cols[cols.index(old)] = new
            for row in model.values():
                if old in row:
                    row[new] = row.pop(old)
        else:  # drop
            if len(cols) < 2:
                continue
            col = rng.choice(cols)
            version = drop_column(path, col)
            cols.remove(col)
            for row in model.values():
                row.pop(col, None)
        history[version] = (copy.deepcopy(model), list(cols))
        assert spark_state() == model_full(model, cols), f"step {step} {op}"

    # serving-path point reads agree (incl. missing keys)
    reader = SnapshotReader(path)
    want_cols = list(read_manifest(path)["columns"])
    for k in rng.sample(keys, 6):
        got = reader.lookup(k)
        if k in model:
            assert got == [
                {
                    c: (model[k].get(c) if c != "k" else k)
                    for c in want_cols
                }
            ], k
        else:
            assert got == [], k

    # time travel: three random historical versions replay exactly
    for v in rng.sample(sorted(history), 3):
        m, cs = history[v]
        got = {}
        for r in read_snapshot(spark, path, version=v).drop("bucket").collect():
            d = r.asDict()
            got[d.pop("k")] = d
        assert got == model_full(m, cs), f"version {v}"


# ---------------------------------------------------------------------------
# Savepoints: cross-table snapshot pins (round 11).


def test_savepoint_pins_and_survives_vacuum(spark, table, tmp_path):
    from mcp_local_rag_spark.plans.merge import (
        compact_snapshots,
        list_versions,
        vacuum,
    )
    from mcp_local_rag_spark.plans.savepoint import (
        create_savepoint,
        list_savepoints,
        verify_savepoint,
    )

    root = str(tmp_path / "savepoints")
    other = str(tmp_path / "other")
    create_merge_table(
        spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("x")),
        other, "k", n_buckets=2,
    )
    rec = create_savepoint(root, "run-2026-08", [table, other],
                           metadata={"run": "demo"})
    assert rec["tables"][os.path.abspath(table)] == 1
    assert list_savepoints(root) == ["run-2026-08"]
    with pytest.raises(FileExistsError):
        create_savepoint(root, "run-2026-08", [table])

    # the source moves on: three merges + a compaction
    for k in (1, 2, 3):
        merge_into(
            spark, table,
            spark.createDataFrame([Row(k=k, v=-k, tag="m", is_delete=False)]),
            delete_col="is_delete",
        )
    compact_snapshots(spark, table)
    pin = rec["tables"][os.path.abspath(table)]
    pinned = read_snapshot(spark, table, version=pin)
    assert pinned.filter(F.col("k") == 1).first()["v"] == 3  # pre-merge

    # retention WITHOUT protection would retire v1; with it, the pin stays
    vacuum(table, keep_versions=1, grace_seconds=0, protect_savepoints=root)
    assert 1 in list_versions(table)
    assert verify_savepoint(root, "run-2026-08")[os.path.abspath(table)] == "ok"
    again = read_snapshot(spark, table, version=pin)
    assert again.filter(F.col("k") == 1).first()["v"] == 3

    # an unprotected vacuum retires the pin; verify reports it loudly
    vacuum(table, keep_versions=1, grace_seconds=0)
    status = verify_savepoint(root, "run-2026-08")
    assert status[os.path.abspath(table)].startswith("missing")
    assert status[os.path.abspath(other)] == "ok"


def test_as_of_lookup_skips_prepared_txn_manifests(spark, tmp_path):
    """An AS-OF lookup racing an in-flight transaction must resolve to
    the COMMITTED index version, never a PREPARED one (published
    v{N}.json, CURRENT not flipped) — prepared data may abort, and the
    txn contract says outside readers only ever see committed state.
    Simulated by preparing a merge+sync inside a txn context that 'dies'
    before its commit record, then looking up from outside."""
    import os

    from mcp_local_rag_spark.plans.merge import _ACTIVE_TXN
    from mcp_local_rag_spark.plans.secondary import (
        _index_version_for_source,
        create_secondary_index,
        lookup_by,
        sync_secondary_index,
    )
    from mcp_local_rag_spark.plans.txn import _write_intent, recover_txns

    src = str(tmp_path / "srcpx")
    idx = str(tmp_path / "idxpx")
    log = str(tmp_path / "txlogpx")
    base = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("c")
    )
    create_merge_table(base, src, "k", n_buckets=4)
    create_secondary_index(spark, src, idx, "c", n_buckets=4)
    committed_iv = _index_version_for_source(idx, 1)

    txn = {
        "id": os.urandom(16).hex(),
        "log": os.path.abspath(log),
        "prepared": {},
        "_on_prepare": _write_intent,
    }
    token = _ACTIVE_TXN.set(txn)
    try:
        merge_into(
            spark, src,
            spark.createDataFrame([Row(k=500, c="1", is_delete=False)]),
            delete_col="is_delete",
        )
        sync_secondary_index(spark, idx)
    finally:
        _ACTIVE_TXN.reset(token)  # coordinator dies: no record, no abort

    # prepared index manifests linger above CURRENT; the AS-OF walk must
    # skip them and resolve source v2 to... nothing committed: v2 only
    # exists as a prepared manifest, so it raises; v1 still resolves to
    # the committed index version
    assert _index_version_for_source(idx, 1) == committed_iv
    with pytest.raises(ValueError, match="no index version"):
        _index_version_for_source(idx, 2)
    asof = {
        r["k"] for r in lookup_by(spark, idx, "1", at_source_version=1).collect()
    }
    assert asof == {k for k in range(20) if k % 2 == 1}
    assert 500 not in asof

    # after recovery rolls the dead txn back, everything is clean
    recover_txns(log)
    assert _index_version_for_source(idx, 1) == committed_iv
