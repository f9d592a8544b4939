import math

from pyspark.sql import functions as F

from mcp_local_rag_spark.functions.vector import (
    cosine,
    dot,
    dot_distance_sql,
    l2_norm,
    vec_lit,
    vec_sql,
)


def test_dot_and_distance(spark):
    df = spark.createDataFrame([([1.0, 0.0, 0.0],), ([0.6, 0.8, 0.0],)], "v array<float>")
    q = [1.0, 0.0, 0.0]
    rows = df.select(
        dot(F.col("v"), vec_lit(q)).alias("d"),
        F.expr(dot_distance_sql("v", vec_sql(q))).alias("dist"),
    ).collect()
    assert rows[0]["d"] == 1.0 and rows[0]["dist"] == 0.0
    assert abs(rows[1]["d"] - 0.6) < 1e-6 and abs(rows[1]["dist"] - 0.4) < 1e-6


def test_cosine_and_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<float>")
    row = df.select(
        l2_norm(F.col("v")).alias("n"),
        cosine(F.col("v"), vec_lit([3.0, 4.0])).alias("c"),
    ).first()
    assert row["n"] == 5.0
    assert abs(row["c"] - 1.0) < 1e-12


def test_cosine_pairs_null_embedding_yields_nan_not_crash(spark):
    """A NULL embedding in a pair batch must produce NaN for its own row —
    np.stack on a None would otherwise abort the whole task before the
    callers' non-finite guards ever run."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.functions.vector import cosine_pairs_pandas

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0], [1.0, 0.0]),
            (2, None, [1.0, 0.0]),
            (3, [0.0, 1.0], None),
            (4, [1.0, 0.0], [0.0, 1.0]),
        ],
        "id long, a array<double>, b array<double>",
    )
    cos = cosine_pairs_pandas()
    out = {r.id: r.c for r in df.select("id", cos("a", "b").alias("c")).collect()}
    assert out[1] == 1.0 and out[4] == 0.0
    import math

    assert out[2] is None or math.isnan(out[2])
    assert out[3] is None or math.isnan(out[3])
