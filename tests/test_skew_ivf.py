from pyspark.sql import functions as F

from mcp_local_rag_spark.operators.similarity import cosine_knn, ivf_assign
from mcp_local_rag_spark.operators.skew import salted_count


def test_salted_count_matches_plain(spark):
    df = spark.range(10_000).select(
        (F.col("id") % 3).alias("k"), (F.col("id") % 7).cast("double").alias("v")
    )
    salted = {
        (r.k): (r.n, r.sv)
        for r in salted_count(
            df, ["k"], agg_cols={"sv": F.sum("v")}
        ).collect()
    }
    plain = {
        (r.k): (r.n, r.sv)
        for r in df.groupBy("k").agg(F.count("*").alias("n"), F.sum("v").alias("sv")).collect()
    }
    assert salted == plain


def test_ivf_assign_and_probe(spark):
    import random

    random.seed(7)
    # two well-separated clusters in 4-d
    rows = [(i, [10.0 + random.random(), 0.0, 0.0, random.random()]) for i in range(20)]
    rows += [(100 + i, [0.0, 10.0 + random.random(), random.random(), 0.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, model = ivf_assign(emb, 2)
    sizes = sorted(r.n for r in assigned.groupBy("label").agg(F.count("*").alias("n")).collect())
    assert sizes == [20, 20]
    # probe: query = first vector; all neighbors must come from its own cluster
    q = assigned.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = cosine_knn(q, assigned, k=5, block_col="label").collect()
    assert len(out) == 5
    assert all(r.neighbor_id < 100 for r in out)


def test_cosine_knn_drops_zero_norm_vectors(spark):
    """Zero-norm corpus vectors yield NaN cosine; they must never surface
    in the top-k regardless of partitioning (kernel masks non-finite)."""
    rows = [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<double>")
    out = cosine_knn(q, emb, k=3, exclude_self=False).collect()
    ids = [r.neighbor_id for r in out]
    assert 3 not in ids and ids == [1, 2]


def test_ivf_multiprobe_string_query_ids(spark):
    """The probe frame mirrors the incoming query-id type — string ids work
    end-to-end (ADVICE r2: schema was hardcoded to long)."""
    import random

    from mcp_local_rag_spark.operators.similarity import ivf_multiprobe

    random.seed(3)
    rows = [(i, [5.0 + random.random(), random.random()]) for i in range(8)]
    rows += [(100 + i, [random.random(), 5.0 + random.random()]) for i in range(8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, model = ivf_assign(emb, 2)
    q = spark.createDataFrame(
        [("query-a", [5.5, 0.5])], "query_id string, embedding array<double>"
    )
    out = ivf_multiprobe(q, assigned, model, k=3, nprobe=1).collect()
    assert len(out) == 3 and all(r.query_id == "query-a" for r in out)
    assert all(r.neighbor_id < 100 for r in out)


def test_ivf_multiprobe_recall(spark):
    """nprobe = n_clusters recovers exact brute-force top-k; nprobe = 1
    stays within its own cluster (the recall/throughput knob)."""
    import random

    from mcp_local_rag_spark.operators.similarity import ivf_multiprobe

    random.seed(11)
    # two clusters whose members are cosine-similar ACROSS clusters for a
    # boundary query: cluster A along +x, cluster B along x+y diagonal
    rows = [(i, [10.0 + random.random(), random.random() * 0.1]) for i in range(10)]
    rows += [(100 + i, [7.0 + random.random(), 7.0 + random.random()]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, model = ivf_assign(emb, 2)
    q = emb.filter("vec_id = 0").select(F.col("vec_id").alias("query_id"), "embedding")

    exact = [
        r.neighbor_id for r in cosine_knn(q, emb, k=8).collect()
    ]
    probe_all = [
        r.neighbor_id
        for r in ivf_multiprobe(q, assigned, model, k=8, nprobe=2).collect()
    ]
    assert probe_all == exact  # full probe == brute force

    probe_one = [
        r.neighbor_id
        for r in ivf_multiprobe(q, assigned, model, k=8, nprobe=1).collect()
    ]
    own_cluster = {
        r.vec_id
        for r in assigned.join(
            assigned.filter("vec_id = 0").select(F.col("label").alias("_ql")),
            F.col("label") == F.col("_ql"),
        ).collect()
    }
    assert set(probe_one) <= own_cluster - {0}


def test_hyperplane_lsh_recall_and_determinism(spark):
    """Sign-LSH with Hamming-1 multiprobe: deterministic signatures from
    seeded planes, disjoint probes (no duplicate pairs), and the probed
    neighborhood recovers the true top neighbor for most queries on a
    clustered corpus (recall sanity, not exactness — LSH is approximate
    by contract)."""
    import numpy as np

    from mcp_local_rag_spark.operators.similarity import (
        cosine_knn,
        hyperplane_planes,
        lsh_knn,
    )

    rng = np.random.RandomState(7)
    # three tight clusters -> near neighbors share most sign bits
    centers = rng.randn(3, 16) * 3
    rows = []
    for i in range(120):
        c = centers[i % 3]
        rows.append((i, [float(x) for x in c + rng.randn(16) * 0.1]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter("vec_id < 3").selectExpr("vec_id AS query_id", "embedding")
    planes = hyperplane_planes(8, 16, seed=42)

    approx = lsh_knn(q, emb, planes, k=3)
    rows1 = {(r.query_id, r.neighbor_id, r.cos) for r in approx.collect()}
    rows2 = {(r.query_id, r.neighbor_id, r.cos) for r in lsh_knn(q, emb, planes, k=3).collect()}
    assert rows1 == rows2  # deterministic end to end
    # no duplicate (query, neighbor) pairs from multiprobe
    pairs = [(a, b) for a, b, _ in rows1]
    assert len(pairs) == len(set(pairs))

    exact = cosine_knn(q, emb, k=1)
    top1 = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    got = {(a, b) for a, b, _ in rows1}
    # every query's true nearest neighbor is in the probed result set
    assert top1 <= got


def test_knn_recall_report_multiprobe_dominates(spark):
    """The recall report on real testdata: multiprobe IVF recall@10 must be
    >= single-probe recall@10 for every query (probing a superset of
    clusters can only add true neighbors), and every recall is hits/10."""
    from mcp_local_rag_spark.queries.ext import q_knn_recall_report

    rows = q_knn_recall_report(spark, "/root/testdata/sf0.001").collect()
    by = {(r.variant, r.query_id): r for r in rows}
    qids = {r.query_id for r in rows}
    assert len(rows) == 3 * len(qids)
    for r in rows:
        assert 0 <= r.hits <= 10
        assert abs(r.recall - r.hits / 10.0) < 1e-9
    for qid in qids:
        assert by[("ivf_multiprobe", qid)].hits >= by[("ivf_probe", qid)].hits


def test_near_dups_and_cosine_survive_zero_norm_vectors(spark):
    """A zero embedding must neither abort the job (ANSI DIVIDE_BY_ZERO)
    nor emit bogus NaN 'near-duplicate' pairs (Spark compares NaN greater
    than any double, so an unguarded threshold filter would pass it)."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.functions.vector import cosine
    from mcp_local_rag_spark.operators.similarity import embedding_near_dups

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [1.0, 0.0], 0),
            (3, [0.0, 0.0], 0),  # zero-norm
        ],
        "vec_id long, embedding array<double>, label int",
    )
    pairs = embedding_near_dups(emb, threshold=0.9).collect()
    assert {(r.id1, r.id2) for r in pairs} == {(1, 2)}  # no NaN pair with 3

    # column-expression cosine: NULL (try_divide), not an exception
    row = (
        emb.filter(F.col("vec_id").isin(1, 3))
        .agg(F.min("vec_id"))
        .crossJoin(
            spark.createDataFrame([([0.0, 0.0], [1.0, 0.0])], "a array<double>, b array<double>")
            .select(cosine(F.col("a"), F.col("b")).alias("c"))
        )
        .first()
    )
    assert row.c is None


def test_heavy_hitters_exact_matches_groupby_any_partitioning(spark):
    """The two-pass MG+recount must equal the exact GROUP BY answer under
    every partitioning (candidates depend on partitioning; the final
    answer must not)."""
    from mcp_local_rag_spark.operators.skew import heavy_hitters_exact

    # 3 hot keys + a long uniform tail
    rows = [(k,) for k in [1] * 400 + [2] * 300 + [3] * 150]
    rows += [(100 + i % 50,) for i in range(150)]  # tail: 3 each
    df = spark.createDataFrame(rows, "user_id long")
    n = len(rows)
    k = 20  # threshold n/k = 50
    expect = {
        (r.user_id, r.cnt)
        for r in df.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") * k > n)
        .collect()
    }
    assert expect == {(1, 400), (2, 300), (3, 150)}
    for parts in (1, 7, 32):
        got = {
            (r.user_id, r.cnt)
            for r in heavy_hitters_exact(df.repartition(parts), "user_id", k=k).collect()
        }
        assert got == expect, parts


def test_heavy_hitters_no_false_negatives_at_mg_capacity(spark):
    """Adversarial MG case: more distinct keys than counters in every
    partition; the guaranteed-superset candidates must still retain the
    true heavy hitter."""
    from mcp_local_rag_spark.operators.skew import heavy_hitters_exact

    rows = [(0,)] * 60 + [(i,) for i in range(1, 201)]  # hot key + 200 singletons
    df = spark.createDataFrame(rows, "user_id long").repartition(4)
    out = heavy_hitters_exact(df, "user_id", k=5).collect()  # threshold 52
    assert [(r.user_id, r.cnt) for r in out] == [(0, 60)]


def test_heavy_hitters_excludes_null_keys_from_count_and_output(spark):
    """NULL keys are excluded from both the candidate set AND n, so a
    NULL-heavy input neither surfaces a NULL row nor inflates the
    threshold."""
    from mcp_local_rag_spark.operators.skew import heavy_hitters_exact

    rows = [(1,)] * 30 + [(None,)] * 100 + [(i,) for i in range(2, 20)]
    df = spark.createDataFrame(rows, "user_id long")
    # non-null n = 48; k=4 -> threshold 12: only key 1 qualifies
    out = heavy_hitters_exact(df, "user_id", k=4).collect()
    assert [(r.user_id, r.cnt) for r in out] == [(1, 30)]


def test_ann_index_write_read_prunes_cells(spark, tmp_path):
    from mcp_local_rag_spark.plans.ann_index import (
        read_ivf_cells,
        write_ivf_index,
    )

    rows = [(i, [float(i), 0.0], i % 4) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, cell int")
    path = str(tmp_path / "ivf")
    write_ivf_index(df, path, meta={"n_cells": 4})
    got = read_ivf_cells(spark, path, [1, 3])
    assert got.count() == 20
    assert {r.cell for r in got.select("cell").distinct().collect()} == {1, 3}
    # the cell restriction must be PARTITION pruning, not a row filter
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan and " IN (1,3)" in plan
    # unrestricted read sees everything
    assert read_ivf_cells(spark, path).count() == 40


def test_knn_ivf_indexed_matches_probe_results(spark):
    """The persisted index changes the access path, never the answer."""
    from mcp_local_rag_spark.queries.ext import q_knn_ivf_indexed, q_knn_ivf_probe

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in q_knn_ivf_indexed(spark, sf).collect()]
    b = [tuple(r) for r in q_knn_ivf_probe(spark, sf).collect()]
    assert a == b and len(a) == 15
    # and the indexed plan prunes cell directories
    plan = q_knn_ivf_indexed(spark, sf)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan


def test_ivf_index_files_are_id_sorted(spark, tmp_path):
    """sort_cols gives real in-cell min/max stats: every data file of a
    cell dir must be sorted by vec_id (leading with the partition column
    so the writer's own sort cannot scramble it)."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.plans.ann_index import write_ivf_index

    df = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.array(F.rand(seed=7), F.rand(seed=8)).alias("embedding"),
        (F.col("id") % 4).cast("int").alias("cell"),
    )
    path = str(tmp_path / "ivf_sorted")
    write_ivf_index(df.repartition(8), path, sort_cols=("vec_id",))
    files = glob.glob(f"{path}/cell=*/part-*.parquet")
    assert files
    for f in files:
        ids = pq.read_table(f, columns=["vec_id"]).to_pandas()["vec_id"].tolist()
        assert ids == sorted(ids), f
