"""Z-order (Morton) clustered layout — multi-dimensional data skipping.

A single-column sort lets parquet row-group min/max stats prune scans on
THAT column only; a 100 TB events table queried by both user and time
needs a layout whose row groups are tight in BOTH dimensions. Z-ordering
delivers that with plain Spark primitives: quantile-bucketize each
cluster column (driver-side approxQuantile boundaries — bounded, one
pass), interleave the bucket bits into a Morton key (pure JVM bit
arithmetic, whole-stage codegen'd), then repartitionByRange + sort on
the key. Every output file then covers a small rectangle of the keyed
space, so the ordinary parquet min/max stats on the NATURAL columns
prune scans filtered on any clustered dimension — no index structure,
no reader cooperation beyond standard pushdown.

The same layout idea ships in Delta/Iceberg `OPTIMIZE ZORDER BY`; this
is the engine-native expression of it. The reference has no analogous
layout control (single LanceDB table, src/vectordb/index.ts); this is
part of the pipeline-scale extension surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

ZKEY = "_zkey"
ZORDER_META = "_zorder_meta.json"


def _bucket_boundaries(
    df: DataFrame, cols: list[str], bits: int, sample_expr: str | None = None
):
    """Per-column strictly-increasing interior split points (<= 2^bits-1
    each) via the EXACT percentile aggregate, ALL columns in one
    aggregation job — one boundary scan regardless of how many
    dimensions are clustered.

    Exact, not approxQuantile: G-K sketches merge in partition order, so
    the same data in a different layout yields different boundaries —
    and the z-key must be a pure function of the row (pinned in tests).
    Exact percentile holds per-distinct-value counts; for corpora where
    that's too much state, pass ``sample_expr`` (a deterministic,
    layout-independent row filter like 'xxhash64(event_id) % 100 = 0')
    to bound it."""
    n = 2**bits
    src = df.filter(F.expr(sample_expr)) if sample_expr else df
    probs = ", ".join(repr(i / n) for i in range(1, n))
    row = src.select(
        *[
            F.expr(f"percentile(cast({c} as double), array({probs}))")
            for c in cols
        ]
    ).first()
    splits = []
    for qs in row:
        out = []
        for q in qs or []:
            if q is not None and (not out or q > out[-1]):
                out.append(q)
        splits.append(out)
    return splits


def _bucket_col(col: str, splits: list[float], bits: int):
    """Bucket id (count of splits <= v) via a BRANCHLESS binary search:
    ``bits`` rounds of element_at into the literal split array (padded
    with +inf), not a 2^bits-term comparison chain — O(bits) JVM
    expressions per row, array folded to a constant. Nulls land in
    bucket 0."""
    n = 2**bits
    pad = list(splits) + [float("inf")] * (n - 1 - len(splits))
    arr = F.array(*[F.lit(s) for s in pad])
    v = F.col(col).cast("double")
    b = F.lit(0)
    for level in range(bits):
        step = n >> (level + 1)
        # 1-based element_at index b+step == 0-based split index b+step-1
        cond = v >= F.element_at(arr, (b + F.lit(step)).cast("int"))
        b = b + F.when(cond, F.lit(step)).otherwise(F.lit(0))
    return b.cast("long")


def morton_key(bucket_cols, bits: int):
    """Interleave ``bits`` low bits of each bucket column into one long:
    bit j of column i lands at position j * d + i. Pure shiftleft/and/or
    — codegen-friendly, no UDF."""
    d = len(bucket_cols)
    if bits * d > 63:
        # position 63 is the long's sign bit: keys would go negative and
        # range ordering would silently invert at the top bit
        raise ValueError(f"bits*cols = {bits * d} exceeds 63 key bits")
    key = F.lit(0).cast("long")
    for i, c in enumerate(bucket_cols):
        for j in range(bits):
            bit = F.shiftright(c, j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * d + i))
    return key


def with_zorder_key(
    df: DataFrame,
    cols: list[str],
    *,
    bits: int = 8,
    sample_expr: str | None = None,
    curve: str = "morton",
) -> DataFrame:
    """``df`` plus a ``_zkey`` space-filling-curve column over
    quantile-bucketized ``cols``. Quantile (not uniform-width) bucketing
    keeps the key balanced under skew — each bucket holds ~1/2^bits of
    the rows, so range partitions of the key are even regardless of
    value skew. ``curve``: 'morton' (any d) or 'hilbert' (d=2, tighter
    locality)."""
    splits = _bucket_boundaries(df, cols, bits, sample_expr)
    bucketed = [_bucket_col(c, s, bits) for c, s in zip(cols, splits)]
    return _with_key(df, bucketed, bits, curve)


def _validate_curve(curve: str) -> None:
    if curve not in ("morton", "hilbert"):
        raise ValueError(f"unknown curve {curve!r}")


def _with_hilbert_cols(df: DataFrame, bucketed, bits: int) -> DataFrame:
    """ZKEY via the Hilbert recurrence carried through NAMED columns —
    one projection per level, so the logical plan grows O(bits), not
    6^bits like inlining the conditionals would (a bits=8 inline tree
    OOMs the planner). Each level reads only the prior level's
    attributes; temporaries are dropped at the end."""
    if len(bucketed) != 2:
        raise ValueError("hilbert curve is 2-dimensional; use morton")
    if 2 * bits > 63:
        raise ValueError(f"2*bits = {2 * bits} exceeds 63 key bits")
    clash = {"_hx", "_hy", "_hd", "_rx", "_ry"} & set(df.columns)
    if clash:
        raise ValueError(f"input columns collide with hilbert temps: {sorted(clash)}")
    df = (
        df.withColumn("_hx", bucketed[0].cast("long"))
        .withColumn("_hy", bucketed[1].cast("long"))
        .withColumn("_hd", F.lit(0).cast("long"))
    )
    s = 2 ** (bits - 1)
    while s > 0:
        hx, hy = F.col("_hx"), F.col("_hy")
        df = df.withColumn(
            "_rx",
            F.when(hx.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0)),
        ).withColumn(
            "_ry",
            F.when(hy.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0)),
        )
        rx, ry = F.col("_rx"), F.col("_ry")
        df = (
            df.withColumn(
                "_hd",
                F.col("_hd")
                + F.lit(s * s).cast("long")
                * (F.lit(3) * rx).bitwiseXOR(ry).cast("long"),
            )
            .withColumn(
                "_hx2",
                F.when(
                    ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - hy).otherwise(hy),
                ).otherwise(hx),
            )
            .withColumn(
                "_hy2",
                F.when(
                    ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - hx).otherwise(hx),
                ).otherwise(hy),
            )
            .drop("_hx", "_hy")
            .withColumnRenamed("_hx2", "_hx")
            .withColumnRenamed("_hy2", "_hy")
        )
        s //= 2
    return df.withColumn(ZKEY, F.col("_hd")).drop(
        "_hx", "_hy", "_hd", "_rx", "_ry"
    )


def _with_key(df: DataFrame, bucketed, bits: int, curve: str) -> DataFrame:
    _validate_curve(curve)
    if curve == "hilbert":
        return _with_hilbert_cols(df, bucketed, bits)
    return df.withColumn(ZKEY, morton_key(bucketed, bits))


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = 8,
    n_files: int = 16,
    sample_expr: str | None = None,
    curve: str = "morton",
) -> None:
    """Materialize ``df`` z-ordered on ``cols`` into ``n_files`` parquet
    files. repartitionByRange on the curve key makes file boundaries
    key-contiguous (each file = one rectangle-ish region); the
    sortWithinPartitions tightens row-group stats inside each file.

    The input is PERSISTED for the build: three passes read it (the
    exact-percentile boundary scan, repartitionByRange's range sampling,
    the write) and they must all see the same rows — an unstable source
    (sample(), nondeterministic upstream) would otherwise get boundaries
    computed from rows that were never written (the repartitionByRange
    re-sampling hazard)."""
    df = df.persist()
    try:
        splits = _bucket_boundaries(df, cols, bits, sample_expr)
        bucketed = [_bucket_col(c, s, bits) for c, s in zip(cols, splits)]
        zdf = _with_key(df, bucketed, bits, curve)
        _write_clustered(zdf, path, n_files)
    finally:
        df.unpersist()
    # the completion marker, written with tmp+rename and LAST: its
    # presence therefore implies a complete layout (zorder_is_built),
    # closing the crash window between the data write and the marker
    tmp = os.path.join(path, ZORDER_META + ".tmp")
    with open(tmp, "w") as f:
        f.write("{}")
    os.replace(tmp, os.path.join(path, ZORDER_META))


def zorder_is_built(path: str) -> bool:
    """Whether ``path`` holds a COMPLETE z-ordered layout — the marker
    is written last via rename, so its presence implies the data write
    finished (a crashed write leaves no marker and reads as unbuilt)."""
    return os.path.isfile(os.path.join(path, ZORDER_META))


def _write_clustered(zdf: DataFrame, path: str, n_files: int):
    conf = zdf.sparkSession.conf
    key = "spark.sql.parquet.outputTimestampType"
    prev = conf.get(key, None)
    # INT96 (the default) carries NO parquet min/max stats — the whole
    # point of the layout is stats-based skipping, so force MICROS
    conf.set(key, "TIMESTAMP_MICROS")
    try:
        (
            zdf.repartitionByRange(n_files, F.col(ZKEY))
            .sortWithinPartitions(ZKEY)
            .drop(ZKEY)
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if prev is None:
            conf.unset(key)
        else:
            conf.set(key, prev)


