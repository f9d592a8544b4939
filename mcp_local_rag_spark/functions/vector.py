"""Vector math as pure Column expressions — JVM-side, codegen-friendly.

The reference computes dot-product distance over L2-normalized embeddings
(distance = 1 - dot: 0 identical, 1 orthogonal, 2 opposite; see reference
src/vectordb/types.ts:114 and cosine impls src/chunker/semantic-chunker.ts:333).
Here the same math is expressed with ``zip_with``/``aggregate`` higher-order
functions so no Python UDF sits in the hot path. All accumulation is cast
to DOUBLE (embeddings are stored float32) so results are stable and
reproducible against the duckdb oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def double_sql(v: float) -> str:
    """``v`` as Spark SQL double text. ``repr`` of a Python float is the
    shortest round-trip decimal, and Spark's SQL parser reads
    ``<decimal>D`` to the nearest double — the same value bit-for-bit;
    non-finite values (``repr`` text like 'inf' is not SQL) go through
    the string cast Spark folds to the same literal."""
    if v != v:
        return "CAST('NaN' AS DOUBLE)"
    if v in (float("inf"), float("-inf")):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"{v!r}D"


def vec_sql(values: Sequence[float]) -> str:
    """A query vector as SQL text of a literal array<double>."""
    vs = [float(v) for v in values]
    if not vs:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    return "array(" + ", ".join(double_sql(v) for v in vs) + ")"


def vec_lit(values: Sequence[float]) -> Column:
    """A literal array<double> column for a query vector (broadcast by value).

    Built as ONE ``F.expr`` parse of ``vec_sql`` instead of dim+1
    ``F.lit`` py4j round trips: each functions.* call crosses
    Python->JVM, and at 64-d that construction overhead (~70 ms clean,
    whole seconds when the container degrades) lands on every query-path
    caller."""
    return F.expr(vec_sql(values))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, accumulated in DOUBLE.

    ``aggregate`` folds sequentially over the array, so summation order is
    deterministic (unlike a SUM over exploded rows).
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector yields NULL (which drops out of
    # filters and sorts last) instead of DIVIDE_BY_ZERO aborting the whole
    # job under Spark 4's default ANSI mode
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def dot_distance_sql(a: str, b: str) -> str:
    """1 - dot(a, b), the reference's distance for normalized vectors, as
    SQL text over two array expressions: the same fold as ``dot`` (DOUBLE
    products, 0.0 start, sequential sum) in one parse instead of the ~20
    py4j round trips of a Column chain."""
    return (
        f"1.0D - aggregate(zip_with({a}, {b}, "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "0.0D, (x, y) -> x + y)"
    )


def cosine_pairs_pandas() -> "object":
    """Arrow-batched rowwise cosine of two array columns.

    Measured on Spark 4 local[32]: at 64 dims this ties the Column
    expression ``cosine`` (HOF folds are codegen'd); at 384 dims / 500k
    pairs the numpy kernel wins ~5x (three folds per row vs one einsum).
    Use it for pair-join shapes with real embedding dims; single-query
    distance stays the Column expression (see operators/search.vector_topk).
    Accumulates in float64 like the Column version.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(a, b):
        if a.empty:
            return pd.Series([], dtype="float64")
        # a NULL (or wrong-length) embedding must yield NaN for ITS row,
        # not crash the whole task in np.stack — callers filter non-finite
        # cosines, but only if the kernel survives to produce them
        dim = None
        for v in a:
            if v is not None:
                dim = len(v)
                break
        if dim is None:
            return pd.Series([float("nan")] * len(a), dtype="float64")
        valid = np.fromiter(
            (
                va is not None and vb is not None and len(va) == dim and len(vb) == dim
                for va, vb in zip(a, b)
            ),
            dtype=bool,
            count=len(a),
        )
        out = np.full(len(a), np.nan)
        if valid.any():
            am = np.stack(
                [np.asarray(v, dtype=np.float64) for v, ok in zip(a, valid) if ok]
            )
            bm = np.stack(
                [np.asarray(v, dtype=np.float64) for v, ok in zip(b, valid) if ok]
            )
            num = np.einsum("ij,ij->i", am, bm)
            with np.errstate(divide="ignore", invalid="ignore"):
                out[valid] = num / (
                    np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
                )
        return pd.Series(out)

    # real (non-string) annotations: `from __future__ import annotations`
    # would otherwise leave pandas_udf unable to infer the series signature
    _cos.__annotations__ = {"a": pd.Series, "b": pd.Series, "return": pd.Series}
    return pandas_udf(_cos, "double")


