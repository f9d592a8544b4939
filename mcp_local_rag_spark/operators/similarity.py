"""Similarity search over embedding columns.

Baseline: brute-force cosine top-k (exact — matches the reference's stance
of never building a vector index, src/vectordb/index.ts:346). Scale path:
cluster-pruned (IVF-style) top-k using a precomputed assignment column —
probing one cluster turns the cross join into a co-partitioned equi-join,
cutting the scanned fraction to ~1/n_clusters. An MLlib
BucketedRandomProjectionLSH variant is a drop-in alternative behind the
same signature when no assignment exists.

Kernel design: per-row higher-order-function dot products are interpreted
per element (~10-100x slower than native); the hot path here is an
Arrow-batched ``mapInPandas`` doing one numpy matmul per corpus batch
against the broadcast query matrix, emitting only its LOCAL top-k rows per
query. The global top-k is then a window over <= k * n_queries *
n_partitions rows. At 100 TB this is a map-only scan plus a tiny final
reduce — the same shape as TakeOrderedAndProject.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType


def _np_matrix(cells) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in cells])


def cosine_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    block_col: str | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k corpus rows per query by cosine similarity.

    The query side (a handful of rows by contract — the reference's search
    path has exactly one, src/vectordb/index.ts:346) is collected and
    broadcast to executors as a numpy matrix inside the kernel closure.
    ``block_col`` (present on both sides) restricts the search to matching
    blocks — the IVF probe — applied as a mask inside the kernel.

    Ranking is on (round(cos, 6) desc, corpus_id asc) — a total order, so
    per-partition partial top-k under the same order is exact, and results
    are oracle-stable.
    """
    q_cols = [query_id, query_vec] + ([block_col] if block_col else [])
    q_rows = queries.select(*q_cols).collect()
    qids = [r[query_id] for r in q_rows]
    qmat = _np_matrix([r[query_vec] for r in q_rows]) if q_rows else np.zeros((0, 1))
    qnorm = np.linalg.norm(qmat, axis=1)
    qblocks = [r[block_col] for r in q_rows] if block_col else None

    # NOT spread: interleaved A/B (5 swapped passes) measured the
    # round-robin exchange of the vector column costing more than the
    # widened Arrow kernel saves at bench scale (knn_bruteforce +41%
    # raw); at real scale the corpus arrives in >= cores splits anyway,
    # so the exchange would buy nothing there either.
    c = corpus.select(
        F.col(corpus_id).alias("neighbor_id"),
        F.col(corpus_vec).alias("_cvec"),
        *([F.col(block_col).alias("_cblock")] if block_col else []),
    )
    out_schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField("neighbor_id", corpus.schema[corpus_id].dataType),
            StructField("cos", DoubleType()),
        ]
    )

    def _local_topk(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cmat = _np_matrix(pdf["_cvec"])
            cnorm = np.linalg.norm(cmat, axis=1)
            ids = pdf["neighbor_id"].to_numpy()
            blocks = pdf["_cblock"].to_numpy() if qblocks is not None else None
            parts = []
            for j, qid in enumerate(qids):
                mask = np.ones(len(ids), dtype=bool)
                if blocks is not None:
                    mask &= blocks == qblocks[j]
                if exclude_self:
                    mask &= ids != qid
                if not mask.any():
                    continue
                sub = cmat[mask]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = (sub @ qmat[j]) / (cnorm[mask] * qnorm[j])
                cos = np.round(cos, 6) + 0.0
                # Zero-norm vectors yield NaN cosine; pandas sorts NaN last
                # but the final Spark window ranks NaN ABOVE every double, so
                # a NaN surviving an under-full partition would surface
                # nondeterministically. Drop non-finite scores here.
                finite = np.isfinite(cos)
                if not finite.all():
                    cos = cos[finite]
                    if not len(cos):
                        continue
                top = (
                    pd.DataFrame({"neighbor_id": ids[mask][finite], "cos": cos})
                    .sort_values(["cos", "neighbor_id"], ascending=[False, True])
                    .head(k)
                )
                top.insert(0, query_id, qid)
                parts.append(top)
            if parts:
                yield pd.concat(parts, ignore_index=True)

    partial = c.mapInPandas(_local_topk, out_schema)
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(query_id, "neighbor_id", "cos")
    )


def ivf_assign(
    emb: DataFrame,
    n_clusters: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, "object"]:
    """Build real IVF cluster assignments with MLlib KMeans.

    Returns (emb + 'label' column, fitted model). The probe path is then
    ``cosine_knn(..., block_col='label')`` — the same signature used with
    pre-supplied assignments. At 100 TB: fit on a sample, assign with the
    broadcast model (transform is a map-only stage, no shuffle)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = emb.withColumn("_features", array_to_vector(F.col(vec_col)))
    model = KMeans(k=n_clusters, seed=seed, featuresCol="_features", predictionCol="label").fit(feat)
    assigned = model.transform(feat).drop("_features")
    return assigned, model


def ivf_multiprobe(
    queries: DataFrame,
    corpus: DataFrame,
    model,
    k: int,
    *,
    nprobe: int = 2,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    block_col: str = "label",
    exclude_self: bool = True,
) -> DataFrame:
    """IVF top-k probing the ``nprobe`` nearest clusters per query — the
    recall knob between the 1-probe equi-join and exact brute force.

    Cluster centers come from the fitted KMeans ``model`` (ivf_assign);
    each query row is replicated once per probed cluster (driver-side — the
    query set is a handful by contract), then the scan kernel masks corpus
    batches by block membership. A corpus row lives in exactly one cluster,
    so probes never produce duplicate (query, neighbor) pairs and the final
    window top-k needs no dedup. Scanned fraction ~= nprobe / n_clusters.
    """
    from pyspark.sql.types import ArrayType, IntegerType

    centers = np.stack([np.asarray(c, dtype=np.float64) for c in model.clusterCenters()])
    q_rows = queries.select(query_id, query_vec).collect()
    replicated = []
    for r in q_rows:
        qv = np.asarray(r[query_vec], dtype=np.float64)
        # KMeans assignment metric is euclidean; probe by that, matching
        # the corpus-side labels
        d2 = ((centers - qv) ** 2).sum(axis=1)
        for lbl in np.argsort(d2)[:nprobe]:
            replicated.append((r[query_id], int(lbl), [float(x) for x in qv]))
    # the probe frame's id field mirrors the incoming id type (string/int32
    # query ids work exactly as they do in cosine_knn itself)
    probe_schema = StructType(
        [
            StructField(query_id, queries.schema[query_id].dataType),
            StructField(block_col, IntegerType()),
            StructField(query_vec, ArrayType(DoubleType())),
        ]
    )
    probe_df = queries.sparkSession.createDataFrame(replicated, probe_schema)
    return cosine_knn(
        probe_df,
        corpus,
        k,
        query_id=query_id,
        corpus_id=corpus_id,
        query_vec=query_vec,
        corpus_vec=corpus_vec,
        block_col=block_col,
        exclude_self=exclude_self,
    )


def hyperplane_planes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplanes for sign-LSH (random projection
    / SimHash-over-vectors). Seeded so the Spark signatures and a SQL
    oracle embedding the same planes as literals agree bit-for-bit."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def hyperplane_sig_udf(planes: np.ndarray):
    """Arrow-batched signature kernel: bit i of a vector's signature is
    ``dot(v, plane_i) > 0``, packed into one integer — one numpy matmul
    per batch, map-only (the LSH-bucketed scale path for ANN: equal
    signatures land in one bucket, so search joins buckets instead of
    cross-joining the corpus)."""
    P = np.asarray(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)

    @F.pandas_udf("long")
    def _sig(col: pd.Series) -> pd.Series:
        if col.empty:
            return pd.Series([], dtype="int64")
        M = _np_matrix(col)
        bits = (M @ P.T) > 0
        return pd.Series((bits @ weights).astype(np.int64))

    return _sig


def lsh_knn(
    queries: DataFrame,
    corpus: DataFrame,
    planes: np.ndarray,
    k: int,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    multiprobe: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Hyperplane-LSH approximate top-k: corpus rows are signed into
    2^n_planes buckets (map-only), each query probes its OWN bucket plus
    every 1-bit flip (``multiprobe``) — the standard recall knob: a
    near-neighbor differs from the query in few sign bits, so Hamming-1
    probes recover most of what bucket quantization splits.

    Same shape as ivf_multiprobe: the handful of query rows is replicated
    per probed bucket driver-side, and the scan kernel masks corpus
    batches by bucket — a corpus row holds exactly ONE signature, so
    probes are disjoint and the final window top-k needs no dedup.
    At 100 TB: signature assign is a map stage; each query reads
    ~(n_planes+1)/2^n_planes of the corpus.
    """
    from pyspark.sql.types import ArrayType, LongType

    P = np.asarray(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)
    corpus_s = corpus.withColumn(
        "_sig", hyperplane_sig_udf(P)(F.col(corpus_vec))
    )
    q_rows = queries.select(query_id, query_vec).collect()
    replicated = []
    for r in q_rows:
        qv = np.asarray(r[query_vec], dtype=np.float64)
        sig = int(((P @ qv) > 0).astype(np.int64) @ weights)
        buckets = [sig]
        if multiprobe:
            buckets += [sig ^ (1 << i) for i in range(P.shape[0])]
        for b in buckets:
            replicated.append((r[query_id], int(b), [float(x) for x in qv]))
    probe_df = queries.sparkSession.createDataFrame(
        replicated,
        StructType(
            [
                StructField(query_id, queries.schema[query_id].dataType),
                StructField("_sig", LongType()),
                StructField(query_vec, ArrayType(DoubleType())),
            ]
        ),
    )
    return cosine_knn(
        probe_df,
        corpus_s,
        k,
        query_id=query_id,
        corpus_id=corpus_id,
        query_vec=query_vec,
        corpus_vec=corpus_vec,
        block_col="_sig",
        exclude_self=exclude_self,
    )


def embedding_near_dups(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.9,
) -> DataFrame:
    """Near-duplicate pairs by cosine within a blocking key (id1 < id2).

    Blocking (cluster id / LSH bucket) keeps the pair join equi-keyed; an
    unblocked variant would be a full cross join — never do that at scale.
    Threshold compares the ROUNDED cosine so the cut is oracle-stable.
    The per-pair cosine runs as a vectorized Arrow pandas UDF (same kernel
    family as cosine_knn), not an interpreted array HOF.

    The within-block stage is O(block_size^2): the NUMBER of blocks must
    grow with the corpus (IVF cells ~ n / target_block_size, SemDeDup uses
    sqrt-ish cluster counts), or one giant block quietly re-creates the
    cross join. A fixed 5-value label column is fine for a 500-vector
    oracle demo and catastrophically quadratic at 100x that — pass
    ivf_assign labels (or hyperplane-LSH buckets) as block_col at scale,
    and cap stragglers (drop over-limit blocks before the pair join).
    """
    from ..functions.vector import cosine_pairs_pandas

    a = emb.select(
        F.col(id_col).alias("id1"), F.col(vec_col).alias("_v1"), F.col(block_col).alias("_b")
    )
    b = emb.select(
        F.col(id_col).alias("id2"), F.col(vec_col).alias("_v2"), F.col(block_col).alias("_b")
    )
    pairs = a.join(b, "_b").filter(F.col("id1") < F.col("id2"))
    cos_pd = cosine_pairs_pandas()
    scored = pairs.withColumn(
        "cos", F.round(cos_pd(F.col("_v1"), F.col("_v2")), 6) + F.lit(0.0)
    )
    # Spark compares NaN GREATER than any double, so a zero-norm vector's
    # NaN cosine would pass `>= threshold` and emit bogus pairs — require
    # finiteness explicitly (cosine_knn's kernel applies the same guard)
    return scored.filter(
        ~F.isnan("cos") & (F.col("cos") >= threshold)
    ).select("id1", "id2", "cos")
