"""Persisted MinHash band index — the dedup twin of the FTS postings
index (plans/fts): the exploded band-key table is computed once per
corpus generation (``write_band_index``) and candidate pairs are read
back from it (``banded_candidate_pairs``) instead of re-signing the
corpus per query. Signatures are deterministic (operators/dedup
constants), so the stored index returns exactly the pairs a full
recompute would — pinned by tests/test_dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import read_parquet

from ..operators.dedup import (
    band_keys,
    minhash_signatures_docs,
)


# -- staleness contract (operators/staleness, r13 item 7 -> r14) ------------
#
# The serving sidecars check their maintained artifacts' covers-stamps;
# the dedup index used to answer against whatever was last appended with
# no freshness guard — a candidate-pairs read against a mid-rebuild index
# could mix band generations, and a reader holding the corpus's current
# stamp had no way to learn the index lagged it. Two pieces of persisted
# state close both:
#
#   covers_source_stamp   the SOURCE content stamp (plans/ingest.
#                         table_content_stamp of the docs table, or any
#                         caller-chosen generation token) the index was
#                         built from. Readers pass
#                         the source's CURRENT stamp as ``at_source`` and
#                         get check_covers semantics: mismatch raises
#                         StaleServingError unless stale_ok. Unstamped
#                         (legacy) indexes carry no proof -> no verdict.
#   refreshing            a SIBLING marker file (``<path>.refreshing``)
#                         created before an overwrite rebuild's data
#                         write and removed after the stamp lands. It
#                         must live OUTSIDE the data directory: Spark's
#                         overwrite deletes the target dir first, so an
#                         in-dir flag would vanish exactly when the
#                         rebuild tears. A torn rebuild leaves the
#                         marker, and every read fails loudly instead of
#                         serving a mixed-generation band table
#                         (plans/engine_txn's flag, same discipline).


def _refresh_marker(path: str) -> str:
    import os

    return os.path.abspath(path).rstrip("/") + ".refreshing"


def index_stamp(path: str) -> tuple[str | None, bool]:
    """(covers_source_stamp, refreshing) for the index at ``path``."""
    import os

    from .ingest import read_table_meta

    c = read_table_meta(path).get("covers_source_stamp")
    return (str(c) if c else None, os.path.exists(_refresh_marker(path)))


def _stamp_index(path: str, *, covers: str | None, n_buckets: int) -> None:
    """Post-rebuild stamping: marks the completion of an OVERWRITE
    rebuild. It rewrites the covers stamp even when ``covers`` is None —
    a rebuild from an unstated generation must CLEAR the old stamp, not
    inherit coverage of a corpus it was not built from — and only then
    clears the torn-rebuild marker. ``n_buckets`` records the layout's
    actual bucket count (write_band_index's 16), never the 64-bucket
    fallback a fresh meta would guess."""
    import os

    from .ingest import write_table_meta

    write_table_meta(
        path,
        n_buckets,
        extra={
            "covers_source_stamp": str(covers) if covers is not None else None
        },
    )
    try:
        os.remove(_refresh_marker(path))
    except FileNotFoundError:
        pass


def _mark_refreshing(path: str) -> None:
    import os

    os.makedirs(os.path.dirname(_refresh_marker(path)) or ".", exist_ok=True)
    with open(_refresh_marker(path), "w") as f:
        f.write("1")


def check_index_fresh(
    path: str, *, at_source: str | None = None, stale_ok: bool = False
) -> None:
    """The read-side gate: raise StaleServingError when the index is
    mid-rebuild (torn overwrite) or provably lags ``at_source``."""
    from ..operators.staleness import StaleServingError, check_covers

    covered, refreshing = index_stamp(path)
    if refreshing and not stale_ok:
        raise StaleServingError(
            f"dedup index {path} is mid-rebuild (refreshing flag set): a "
            "read now could mix band generations; finish or re-run the "
            "rebuild, or pass stale_ok=True to read it as-is"
        )
    check_covers("dedup band index", covered, at_source, stale_ok)


def write_band_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 16,
    covers: str | None = None,
) -> None:
    """Persist the EXPLODED band-key table, hash-bucketed by band key —
    the bm25_term_bucketed layout applied to dedup: every row carrying
    one (band, band_key) lands in one bucket directory, sorted by the
    key inside each file, so candidate generation groups co-located rows
    instead of shuffling two copies of the corpus-wide band table
    through a self-join. The expensive upstream (shingle explode + 16
    min-aggregates) is paid ONCE here; every later dedup pass reads this
    narrow table (id, band, band_key ~ 50 B/row)."""
    sigs = minhash_signatures_docs(docs, id_col=id_col, text_col=text_col)
    bands = band_keys(sigs, id_col=id_col)
    bb = F.pmod(
        F.xxhash64(
            F.concat_ws("|", F.col("band").cast("string"), F.col("band_key"))
        ),
        F.lit(n_buckets),
    ).cast("int")
    _mark_refreshing(path)
    (
        bands.withColumn("bband", bb)
        .repartition(n_buckets, "bband")
        .sortWithinPartitions("bband", "band", "band_key")
        .write.partitionBy("bband")
        .mode("overwrite")
        .parquet(path)
    )
    _stamp_index(path, covers=covers, n_buckets=n_buckets)


def _equi_join_pairs(src: DataFrame, id_col: str) -> DataFrame:
    """The ONE pair-expansion join shape (id1 < id2 over (band,
    band_key)) — shared by the high-volume route and the
    beyond-enumeration fallback so the routes can never desynchronize."""
    a = src.select(F.col(id_col).alias("id1"), "band", "band_key")
    b = src.select(F.col(id_col).alias("id2"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )


def banded_candidate_pairs(
    spark: SparkSession,
    path: str,
    *,
    id_col: str = "doc_id",
    bucket_cap: int = 128,
    pair_volume_cap: int = 2_000_000,
    hot_enum_cap: int = 100_000,
    at_source: str | None = None,
    stale_ok: bool = False,
) -> DataFrame:
    """Distinct candidate pairs (id1 < id2) from the persisted band
    index. A cheap COUNT aggregate over the band table (map-side
    partials: its shuffle is a few bytes per distinct bucket) yields the
    per-bucket sizes, and the i<j expansion strategy is picked from the
    estimated pair volume those sizes imply:

      * LOW pair volume (incremental batches, typical corpora): one
        grouped collect_list + a JVM higher-order expression emitting
        the pairs straight from the arrays — one heavy shuffle of the
        narrow band table, no join exchange.
      * HIGH pair volume (> ``pair_volume_cap`` estimated pairs — bulk
        backfills over heavily duplicated corpora): the equi-join on
        (band, band_key) over the RAW band table (the join shape
        operators/dedup.lsh_candidate_pairs uses, minus its shingling
        upstream) — no array aggregate is materialized at all. The
        join's two-sided exchange costs a constant more setup but
        expands pairs ~30% cheaper per pair at volume (0.42-0.50 vs
        0.60 us/pair at 30M pairs, BENCH_SCALE_r11/12), so it wins
        exactly where the array expansion loses.

    Oversized buckets (> ``bucket_cap`` members — boilerplate band keys)
    are excluded from both grouped expansions and handled by the salted
    equi-join restricted to just those keys: their quadratic pair
    fan-out spreads across ~n/cap tasks instead of exploding one
    aggregate row. Every route returns the same pair set, pytest-pinned
    vs lsh_candidate_pairs.

    Freshness (operators/staleness, same keywords as the serving tier):
    pass the source's CURRENT content stamp as ``at_source`` — if the
    index's persisted covers-stamp lags it, StaleServingError instead of
    silently-stale pairs; a mid-rebuild index (torn overwrite) always
    raises; ``stale_ok=True`` downgrades both to read-as-is. Unstamped
    legacy indexes carry no proof and serve as before."""
    check_index_fresh(path, at_source=at_source, stale_ok=stale_ok)
    bands = read_parquet(spark, path).drop("bband")
    # strategy pass: a COUNT aggregate over the band table — map-side
    # partials make its shuffle a few bytes per distinct bucket, and it
    # yields BOTH the small-bucket pair-volume estimate and the
    # oversized-bucket list in one derived frame (never a second full
    # materialization of the band table's arrays)
    sizes = (
        bands.groupBy("band", "band_key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .persist()
    )
    est_row = sizes.agg(
        F.sum(
            F.when(
                F.col("_n") <= bucket_cap,
                F.col("_n").cast("long") * (F.col("_n") - 1) / 2,
            ).otherwise(F.lit(0))
        ).alias("small_pairs"),
        F.sum(
            F.when(F.col("_n") > bucket_cap, 1).otherwise(0)
        ).alias("n_hot"),
    ).first()
    est_small = int(est_row["small_pairs"] or 0)
    n_hot = int(est_row["n_hot"] or 0)
    if n_hot > hot_enum_cap:
        # more oversized keys than the salted path's driver-side
        # enumeration can hold (``hot_enum_cap``, parameterized so the
        # route-parity fuzz can drive this branch): NOTHING may be
        # dropped, so the whole table routes through one plain
        # equi-join (complete by construction; per-key skew is AQE
        # skew-join-split territory rather than manual salting at this
        # key cardinality)
        sizes.unpersist()
        return _equi_join_pairs(bands, id_col).distinct()
    hot_rows = (
        sizes.filter(F.col("_n") > bucket_cap)
        .select("band", "band_key", "_n")
        .collect()
    )
    sizes.unpersist()
    if est_small > pair_volume_cap:
        # HIGH volume: expand by the equi-join on the RAW band table —
        # no array aggregate is ever materialized; the join's two-sided
        # exchange amortizes over the pair volume (0.42-0.50 us/pair at
        # 30M pairs vs 0.60 for array expansion, BENCH_SCALE_r11/12).
        # Oversized buckets are excluded via a broadcast anti-join and
        # handled by the salted path below; singleton buckets survive
        # the join but emit nothing past id1 < id2.
        small_src = bands
        if hot_rows:
            hot_keys = F.broadcast(
                spark.createDataFrame(
                    [(r["band"], r["band_key"]) for r in hot_rows],
                    "band int, band_key string",
                )
            )
            small_src = bands.join(
                hot_keys, ["band", "band_key"], "left_anti"
            )
        small_pairs = _equi_join_pairs(small_src, id_col)
    else:
        # LOW volume (incremental batches, typical corpora): ONE grouped
        # collect_list + JVM higher-order pair expansion — exactly one
        # heavy shuffle of the narrow band table, no join exchange
        grouped = bands.groupBy("band", "band_key").agg(
            F.sort_array(F.collect_list(F.col(id_col))).alias("_ids")
        )
        small = grouped.filter(
            (F.size("_ids") >= 2) & (F.size("_ids") <= bucket_cap)
        )
        ids = F.col("_ids")
        pair_arr = F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.size(ids) - 1),
                lambda i: F.transform(
                    F.slice(ids, i + 1, F.size(ids)),
                    lambda y: F.struct(
                        F.element_at(ids, i).alias("id1"), y.alias("id2")
                    ),
                ),
            )
        )
        small_pairs = (
            small.select(F.explode(pair_arr).alias("p"))
            .select("p.id1", "p.id2")
        )
    if not hot_rows:
        return small_pairs.distinct()
    hot = F.broadcast(
        spark.createDataFrame(
            [
                (r["band"], r["band_key"], int(-(-r["_n"] // bucket_cap)))
                for r in hot_rows
            ],
            "band int, band_key string, _nsalt int",
        )
    )
    hot_bands = bands.join(hot, ["band", "band_key"])
    a = hot_bands.select(
        F.col(id_col).alias("id1"),
        "band",
        "band_key",
        F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsalt"))
        .cast("int")
        .alias("_salt"),
    )
    b = hot_bands.select(
        F.col(id_col).alias("id2"),
        "band",
        "band_key",
        F.explode(F.sequence(F.lit(0), F.col("_nsalt") - 1)).alias("_salt"),
    )
    hot_pairs = (
        a.join(b, ["band", "band_key", "_salt"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
    )
    return small_pairs.unionByName(hot_pairs).distinct()


