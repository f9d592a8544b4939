"""Incremental view maintenance (IVM): additive aggregates plus a
mergeable-sketch measure family (min/max, HLL, Misra–Gries, histograms,
Theta set sketches, KLL quantiles).

A 100 TB pipeline cannot recompute its rollups from scratch every time a
batch lands: the per-batch cost must be O(delta), not O(corpus). This
module maintains a grouped-aggregate "materialized view" as a
snapshot-versioned state table (plans/merge machinery — immutable data
dirs + manifest commits, so a crashed apply is invisible and time travel
over the view's history is free):

    apply(delta) =
      1. partial-aggregate the DELTA on the group keys        (delta-sized
         shuffle; map-side combine makes it pre-aggregated per partition)
      2. full-outer join the partials with the CURRENT state,
         restricted to the state buckets the delta's keys hash
         into (manifest-pruned — untouched buckets unread)
      3. ADD measure columns (count/sum are commutative monoids;
         avg/rate derive at read time as sum/count)
      4. commit the touched buckets as a new snapshot version

    invariant: apply(b1); apply(b2); ... == one batch aggregate over
    b1 ∪ b2 ∪ ... for ANY batch order (pinned in tests/test_ivm.py and
    oracle-gated by the events_ivm_hourly registry query).

Scale posture: step 2's join is state-sized-by-touched-bucket vs
delta-partial-sized — bounded by key cardinality, never by the rows the
view has absorbed. Deletions/retractions follow the same algebra with
negated partials (count -1, sum -x): `apply(delta, weight=-1)`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import (
    _bucketed,
    _writer_manifest,
    _buckets_on_disk,
    _commit,
    _dir_bucket_rows,
    _trim_applied,
    _write_data_version,
    read_snapshot,
)

_KEY = "_ivm_key"
_SEP = "\x1f"
_ESC = "\x1e"
_NULLTOK = "\x00"


def _enc_component(col):
    """Null-safe, collision-free encoding of ONE key component:
    escape the escape char, the separator, and the null sentinel inside
    the value, then map NULL itself to the bare sentinel. concat_ws
    alone SKIPS nulls, which would collapse (NULL,'x') with ('x',NULL)
    and NULL with '' into one state row / join key."""
    s = col.cast("string")
    s = F.replace(s, F.lit(_ESC), F.lit(_ESC + _ESC))
    s = F.replace(s, F.lit(_SEP), F.lit(_ESC + "s"))
    s = F.replace(s, F.lit(_NULLTOK), F.lit(_ESC + "0"))
    return F.coalesce(s, F.lit(_NULLTOK))


def ivm_key_expr(keys: list[str]):
    """The state-table key for a group: null-safe encoded components
    joined on the separator. Every writer AND reader of an IVM/view
    state table must derive keys through this one expression."""
    return F.concat_ws(_SEP, *[_enc_component(F.col(c)) for c in keys])


def ivm_key_of(values) -> str:
    """Driver-local mirror of ``ivm_key_expr`` for concrete values —
    lets point reads (plans/secondary) route to the state bucket without
    a Spark job. Exact for None/str/int/bool; raises TypeError for types
    whose Spark string cast this mirror can't reproduce (callers fall
    back to the Spark expression)."""
    from ..functions.spark_hash import spark_string_of

    parts = []
    for v in values:
        if v is None:
            parts.append(_NULLTOK)
            continue
        s = spark_string_of(v)
        s = s.replace(_ESC, _ESC + _ESC)
        s = s.replace(_SEP, _ESC + "s")
        s = s.replace(_NULLTOK, _ESC + "0")
        parts.append(s)
    return _SEP.join(parts)

# measure spec: (output column, op, input column). count/sum form the
# ADDITIVE fragment (invertible: weight=-1 retracts); min/max and
# approx_ndv are commutative monoids WITHOUT inverses — they fold
# incrementally but a retraction would need the full group re-scanned,
# so weight=-1 is rejected when any such measure is declared
# (append-only views). approx_ndv keeps a Datasketches HLL sketch
# (binary) in the state table and merges per apply with hll_union —
# the 100 TB way to maintain per-group distinct counts: O(delta) per
# batch, a few KB of state per group regardless of how many distinct
# values the group has absorbed. Read the estimate with
# F.hll_sketch_estimate over ivm_read's sketch column.
#
# "approx_topk" / "approx_topk:K" (default K=16) keeps a Misra–Gries
# heavy-hitters summary as map<string,bigint> — per-group approximate
# top values with ≤K entries of state no matter how much data the group
# absorbs. Partials, merges, and compressions are all JVM-side
# higher-order functions (map_zip_with / array_sort / transform), and
# the summary is MERGEABLE in the Agarwal et al. "Mergeable Summaries"
# (TODS 2013) sense: fold any batch order and every item with true
# frequency > n/(K+1) is guaranteed present, with
# estimate ≤ true ≤ estimate + n/(K+1).
# "hist" keeps a per-group histogram as map<string,bigint> over a
# caller-computed BIN column (the caller bounds the bin count — that is
# what makes it a histogram). Bin counts are plain integers, so the
# measure is ADDITIVE AND INVERTIBLE: weight=-1 retracts, and bins that
# net to zero are dropped from the map.
# "theta" keeps a Datasketches Theta sketch — like approx_ndv but the
# state supports SET ALGEBRA across groups/views at read time
# (theta_union / theta_intersection / theta_difference): "users who did
# A but never B" from two maintained views without touching raw data.
# Exact below the sketch's nominal entries (4096 by default).
#
# "approx_quantile" keeps a Datasketches KLL(double) sketch — true
# mergeable quantiles with a normalized rank-error guarantee (~1.7%
# at the default k=200); read with F.kll_sketch_get_quantile_double.
# The input column must be DOUBLE (cast in the delta prep).
_OPS = {
    "count", "sum", "min", "max", "approx_ndv", "approx_topk", "hist",
    "theta", "approx_quantile",
}
_ADDITIVE = {"count", "sum"}


def _op_kind(op: str) -> tuple[str, int]:
    """'approx_topk:32' → ('approx_topk', 32); plain ops → (op, 0)."""
    if op.startswith("approx_topk"):
        _, _, k = op.partition(":")
        return "approx_topk", int(k) if k else 16
    return op, 0


def _mg_compress(m, k: int):
    """One Misra–Gries compress over a count map: keep the K largest
    entries with the (K+1)-th largest count subtracted, drop the rest
    (they all fall ≤ 0 after the subtraction, so this equals the
    textbook decrement loop). Pure JVM expression — no UDF."""
    ents = F.array_sort(
        F.map_entries(m),
        lambda a, b: F.when(a["value"] > b["value"], F.lit(-1))
        .when(a["value"] < b["value"], F.lit(1))
        .when(a["key"] < b["key"], F.lit(-1))
        .when(a["key"] > b["key"], F.lit(1))
        .otherwise(F.lit(0)),
    )
    thresh = F.coalesce(
        F.try_element_at(ents, F.lit(k + 1))["value"], F.lit(0)
    )

    # thresh is let-bound: referenced directly inside the per-entry
    # lambda it would re-run the whole array_sort once per kept entry
    def _adjust_by(t):
        adj = F.transform(
            F.slice(ents, 1, k),
            lambda e: F.struct(
                e["key"].alias("key"), (e["value"] - t).alias("value")
            ),
        )
        return F.map_from_entries(F.filter(adj, lambda e: e["value"] > 0))

    return F.element_at(F.transform(F.array(thresh), _adjust_by), 1)


def _hist_partial(
    delta: DataFrame, keys: list[str], name: str, col: str, weight: int
) -> DataFrame:
    """Per-group bin counts of one delta batch as a map, signed by
    weight (retraction = negative counts that cancel on fold)."""
    cnts = (
        delta.filter(F.col(col).isNotNull())
        .groupBy(*keys, F.col(col).cast("string").alias("_v"))
        .agg((F.count(F.lit(1)) * F.lit(weight)).alias("_c"))
    )
    return cnts.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("_v").alias("key"), F.col("_c").alias("value"))
            )
        ).alias(name)
    )


def _topk_partial(
    delta: DataFrame, keys: list[str], name: str, col: str, k: int
) -> DataFrame:
    """Per-group MG summary of one delta batch: exact value counts,
    window-ranked to the top K+1 per group (everything ranked below the
    (K+1)-th count compresses to ≤0 anyway, so the pre-truncation is
    lossless), then one compress. Bounded rows per group end-to-end."""
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col("_c").desc(), F.col("_v"))
    cnts = (
        delta.filter(F.col(col).isNotNull())
        .groupBy(*keys, F.col(col).cast("string").alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k + 1)
    )
    m = cnts.groupBy(*keys).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(F.col("_v").alias("key"), F.col("_c").alias("value"))
            )
        ).alias(name)
    )
    return m.select(*keys, _mg_compress(F.col(name), k).alias(name))


def _partial(delta: DataFrame, keys: list[str], measures: list[tuple], weight: int) -> DataFrame:
    aggs, map_frames = [], []
    for name, op, col in measures:
        kind, k = _op_kind(op)
        if kind not in _OPS:
            raise ValueError(f"unsupported op {op!r}")
        if kind in _ADDITIVE:
            expr = F.count(F.lit(1)) if kind == "count" else F.sum(F.col(col))
            aggs.append((expr * F.lit(weight)).alias(name))
            continue
        if kind == "hist":  # additive map: signed partial, inverse exists
            map_frames.append((name, "hist", col, weight))
            continue
        if weight != 1:
            raise ValueError(
                f"measure {name!r} ({op}) has no inverse; "
                "retraction (weight=-1) is only defined for count/sum/hist"
            )
        if kind == "approx_topk":
            map_frames.append((name, "topk", col, k))
        elif kind == "approx_ndv":
            aggs.append(F.hll_sketch_agg(F.col(col)).alias(name))
        elif kind == "theta":
            aggs.append(F.theta_sketch_agg(F.col(col)).alias(name))
        elif kind == "approx_quantile":
            aggs.append(F.kll_sketch_agg_double(F.col(col)).alias(name))
        else:
            fn = F.min if kind == "min" else F.max
            aggs.append(fn(F.col(col)).alias(name))
    key_expr = ivm_key_expr(keys)
    # the base aggregate ALWAYS runs (a hidden count when no scalar
    # measure was declared): it groups over every delta row, so it is a
    # superset of each map partial (those drop null values) and the
    # left joins below cannot lose a group
    base_aggs = aggs if aggs else [F.count(F.lit(1)).alias("_ivm_base")]
    out = delta.groupBy(*keys).agg(*base_aggs).withColumn(_KEY, key_expr)
    for name, kind, col, arg in map_frames:
        tp = (
            _hist_partial(delta, keys, name, col, arg)
            if kind == "hist"
            else _topk_partial(delta, keys, name, col, arg)
        ).withColumn(_KEY, key_expr)
        out = out.join(tp.drop(*keys), _KEY, "left")
    return out.select(*keys, *[m[0] for m in measures], _KEY)


def ivm_create(
    spark: SparkSession,
    table_path: str,
    schema_delta: DataFrame,
    keys: list[str],
    measures: list[tuple],
    *,
    n_buckets: int = 16,
) -> int:
    """Initialize an EMPTY state table with the view's schema (derived
    from a zero-row partial aggregate of a delta-shaped frame)."""
    import os

    from .merge import create_merge_table

    empty = _partial(schema_delta.limit(0), keys, measures, 1)
    v = create_merge_table(empty, table_path, _KEY, n_buckets=n_buckets)
    # a zero-row partitioned write leaves no bucket files: pin one
    # schema-only file so snapshot reads of the empty view stay readable
    root = os.path.join(table_path, "data_v1")
    if not _buckets_on_disk(table_path, "data_v1"):
        empty.drop("bucket").repartition(1).write.mode("overwrite").parquet(
            os.path.join(root, "bucket=0")
        )
    return v


def ivm_apply(
    spark: SparkSession,
    table_path: str,
    delta: DataFrame,
    keys: list[str],
    measures: list[tuple],
    *,
    weight: int = 1,
    batch_key: str | None = None,
) -> int:
    """Fold one delta batch into the view; ``weight=-1`` retracts (CDC
    deletes). Returns the committed version.

    ``batch_key`` makes the fold EXACTLY-ONCE under at-least-once
    delivery (e.g. a changefeed sync replayed after a crash): the key
    is recorded inside the same atomic manifest commit that makes the
    fold visible, so a replay whose fold already landed is a no-op —
    there is no window where the data committed but the key did not."""
    manifest = _writer_manifest(table_path)
    applied = manifest.get("applied", [])
    if batch_key is not None and batch_key in applied:
        return manifest["version"]
    nb, new_version = manifest["n_buckets"], manifest["version"] + 1

    src = _bucketed(_partial(delta, keys, measures, weight), _KEY, nb)
    touched = sorted(
        r["bucket"] for r in src.select("bucket").distinct().collect()
    )
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

    state = read_snapshot(spark, table_path).filter(
        F.col("bucket").isin(touched)
    )
    # measure columns keep the PARTIAL's dtype across applies: decimal
    # addition widens precision by one digit per fold, which would drift
    # the state schema version-over-version (and overflow the decimal cap
    # after 10 applies); count stays long, sums stay their declared type
    src_types = dict(src.dtypes)

    def _fold(name: str, op: str):
        s, t = F.col(f"s.{name}"), F.col(f"t.{name}")
        op, k = _op_kind(op)
        if op in _ADDITIVE:
            return (
                (F.coalesce(s, F.lit(0)) + F.coalesce(t, F.lit(0)))
                .cast(src_types[name])
                .alias(name)
            )
        if op in ("approx_topk", "hist"):
            # count maps add key-wise; topk then re-bounds with one MG
            # compress (errors add, per Mergeable Summaries), hist just
            # drops bins that net to zero (exact, invertible)
            summed = F.map_zip_with(
                s,
                t,
                lambda _k, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
            )
            folded = (
                _mg_compress(summed, k)
                if op == "approx_topk"
                else F.map_filter(summed, lambda _k, v: v != 0)
            )
            return (
                F.when(s.isNull(), t)
                .when(t.isNull(), s)
                .otherwise(folded)
                .alias(name)
            )
        if op in ("approx_ndv", "theta", "approx_quantile"):
            # the union/merge fns null-propagate; an absent join side
            # means "that group had no rows there" — the identity sketch
            merge = {
                "approx_ndv": F.hll_union,
                "theta": F.theta_union,
                "approx_quantile": F.kll_sketch_merge_double,
            }[op]
            return (
                F.when(s.isNull(), t)
                .when(t.isNull(), s)
                .otherwise(merge(s, t))
                .alias(name)
            )
        # least/greatest skip nulls in Spark, so the absent side of the
        # full-outer join folds away without special-casing
        fn = F.least if op == "min" else F.greatest
        return fn(s, t).alias(name)

    merged = (
        state.alias("t")
        .join(src.alias("s"), F.col(f"t.{_KEY}") == F.col(f"s.{_KEY}"), "full_outer")
        .select(
            F.coalesce(F.col(f"s.{_KEY}"), F.col(f"t.{_KEY}")).alias(_KEY),
            *[
                F.coalesce(F.col(f"s.{k}"), F.col(f"t.{k}")).alias(k)
                for k in keys
            ],
            *[_fold(n, op) for n, op, _ in measures],
            F.coalesce(F.col("s.bucket"), F.col("t.bucket")).alias("bucket"),
        )
    )
    # retractions that zero a group's count remove the group entirely (a
    # key the view has fully forgotten must not linger as a 0-row)
    count_cols = [n for n, op, _ in measures if op == "count"]
    if count_cols:
        merged = merged.filter(F.col(count_cols[0]) != 0)

    data_dir = _write_data_version(
        merged, table_path, new_version, _KEY, len(touched)
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
            buckets.pop(str(b), None)
            rows.pop(str(b), None)
    _commit(
        table_path,
        {
            "version": new_version,
            "key": _KEY,
            "n_buckets": nb,
            "buckets": buckets,
            "rows": rows,
            "applied": _trim_applied(applied + ([batch_key] if batch_key else [])),
        },
        new_version,
    )
    return new_version


INVERTIBLE_OPS = {"count", "sum", "hist"}


def has_non_invertible(measures: list[tuple]) -> bool:
    return any(_op_kind(op)[0] not in INVERTIBLE_OPS for _, op, _ in measures)


def ivm_commit_key(spark: SparkSession, table_path: str, batch_key: str) -> int:
    """Record ``batch_key`` in a data-less manifest commit — the noop
    half of an exactly-once protocol step whose fold had nothing to do
    (e.g. a change-feed retract half over an insert-only range). Returns
    the committed version (or the current one if the key is already
    recorded)."""
    manifest = _writer_manifest(table_path)
    applied = manifest.get("applied", [])
    if batch_key in applied:
        return manifest["version"]
    new_version = manifest["version"] + 1
    _commit(
        table_path,
        {
            **manifest,
            "version": new_version,
            "applied": _trim_applied(applied + [batch_key]),
        },
        new_version,
    )
    return new_version


def ivm_read(
    spark: SparkSession, table_path: str, version: int | None = None
) -> DataFrame:
    """The view's rows (group keys + additive measures), synthetic key
    column dropped."""
    return read_snapshot(spark, table_path, version).drop(_KEY, "bucket")
