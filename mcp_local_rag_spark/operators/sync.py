"""Incremental-sync planner — the reference's "MERGE" (SURVEY §2.7).

Reference semantics (src/features/sync.ts:237-316): a stored key is clean
(skip) iff it is stored under exactly ONE spelling AND every stored row
carries the current disk hash; hashless rows, disagreeing rows, or multiple
case-spellings make it dirty (upsert). Keys on disk but not in the DB are
new upserts; stored keys absent from disk are pruned unless protected
(excluded prefixes, managed raw-data, unobserved regions).

Spark shape: one FULL OUTER join on the sync key + ``when()`` classification
— the planner is a pure DataFrame -> DataFrame function; execution is a
Delta MERGE / per-file partition overwrite downstream. At scale both
manifests are keyed by path: pre-bucket them on ``key`` and the join is
co-located (no shuffle of the big DB side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.paths import scope_predicate

ACTION_UPSERT_NEW = "upsert_new"
ACTION_UPSERT = "upsert"
ACTION_SKIP = "skip"
ACTION_PRUNE = "prune"
ACTION_KEEP_EXCLUDED = "keep_excluded"
ACTION_KEEP_UNOBSERVED = "keep_unobserved"


def plan_sync(
    db: DataFrame,
    disk: DataFrame,
    *,
    key_col: str = "key",
    path_col: str = "filePath",
    hash_col: str = "hash",
    excluded_sources: list[str] | None = None,
    source_col: str = "source",
    unobserved_prefixes: list[str] | None = None,
) -> DataFrame:
    """Classify every sync key into upsert_new / upsert / skip / prune / keep_*.

    ``db``: one row per stored chunk row (duplicate keys intentional) with
    (path_col, key_col, hash_col [, source_col]).
    ``disk``: one row per on-disk file with (key_col, hash_col), pre-deduped.
    """
    disk_k = disk.select(
        F.col(key_col).alias("_dk"), F.col(hash_col).alias("_disk_hash")
    )
    joined = db.join(disk_k, db[key_col] == disk_k["_dk"], "left")
    mismatch = F.when(
        F.col("_disk_hash").isNotNull()
        & ~F.col(hash_col).eqNullSafe(F.col("_disk_hash")),
        1,
    ).otherwise(0)
    aggs = [
        F.countDistinct(path_col).alias("n_spellings"),
        F.sum(F.when(F.col(hash_col).isNull(), 1).otherwise(0)).alias("n_null_hash"),
        F.sum(mismatch).alias("n_mismatch"),
    ]
    if source_col in db.columns:
        aggs.append(F.max(source_col).alias("_source"))
    db_agg = joined.groupBy(key_col).agg(*aggs)

    plan = db_agg.join(disk_k, db_agg[key_col] == disk_k["_dk"], "full_outer")

    if excluded_sources and source_col not in db.columns:
        # the exclusion predicate reads the aggregated '_source', which
        # only exists when the db frame carries the (optional) source
        # column — failing here beats an UNRESOLVED_COLUMN at evaluation
        raise ValueError(
            f"excluded_sources requires a '{source_col}' column on the db frame"
        )
    excluded = F.lit(False)
    for s in excluded_sources or []:
        excluded = excluded | (F.col("_source") == s)
    # boundary-aware exact-or-descendant (reference isUnderOrEqual): an
    # unobserved '/docs/sub' protects '/docs/sub/x.md' but NOT '/docs/subfile.md'
    unobserved = (
        scope_predicate(key_col, list(unobserved_prefixes))
        if unobserved_prefixes
        else F.lit(False)
    )

    action = (
        F.when(F.col(key_col).isNull(), ACTION_UPSERT_NEW)
        .when(F.col("_dk").isNull() & excluded, ACTION_KEEP_EXCLUDED)
        .when(F.col("_dk").isNull() & unobserved, ACTION_KEEP_UNOBSERVED)
        .when(F.col("_dk").isNull(), ACTION_PRUNE)
        .when(
            (F.col("n_spellings") > 1)
            | (F.col("n_null_hash") > 0)
            | (F.col("n_mismatch") > 0),
            ACTION_UPSERT,
        )
        .otherwise(ACTION_SKIP)
    )
    return plan.select(
        F.coalesce(F.col(key_col), F.col("_dk")).alias("key"),
        action.alias("action"),
    )


def sync_counters(plan: DataFrame) -> DataFrame:
    """A8: fold the plan into per-action counters."""
    return plan.groupBy("action").agg(F.count("*").alias("n"))
