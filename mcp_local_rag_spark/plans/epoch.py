"""Training-epoch reader: seeded deterministic shard + sample shuffle, and
fixed-length token packing — the two operators an LLM training job runs
against the shard corpus every day.

No reference counterpart (the reference serves retrieval queries,
src/server/index.ts:471-477; this generalizes its corpus-serving role to
the training-consumer side). The design follows the WebDataset training
convention (Breuel, github.com/webdataset/webdataset): an epoch is a
pseudo-random-but-REPRODUCIBLE ordering — shards shuffled by seed, samples
shuffled within a bounded window — never a global row shuffle, because at
100 TB the whole point of shards is that a reader streams each one
sequentially.

Epoch ordering is a pure function of (seed, shard, sample_key):
  * shard rank: md5(seed | shard) — shard-level shuffle;
  * within a shard, samples are shuffled inside BLOCKS of ``buffer``
    consecutive archive positions: block = archive_idx // buffer, then
    md5(seed | shard | sample_key) within the block. This is the
    deterministic analogue of WebDataset's reservoir shuffle(buffer): a
    sample's displacement from archive order is bounded by ~buffer, so
    sequential tar reads stay sequential, while the order still changes
    completely from seed to seed. ``buffer=None`` = full within-shard
    shuffle.
md5 (not xxhash64) because both Spark and DuckDB compute identical md5
hex — the ordering is therefore oracle-checkable bit-for-bit.

Scale honesty: sorting on the ``epoch_keys`` columns is ONE
range-partitioned sort — an exchange that does move sample rows (content
included) once, with the shard rank leading so output partitions hold
whole shards. That is the right shape for a materialized epoch (write the
epoch-ordered corpus once, stream it N times). A 100 TB reader that must
NOT materialize sorts the shard paths on the driver instead —
md5(seed | shard) ascending, path as tiebreak — so each worker takes a
deterministic slice of that list and reads its shards with the
within-shard keys applied map-side: zero exchanges, the WebDataset
consumer pattern. The two orders are IDENTICAL by construction (same md5
keys; pinned in tests), so a pipeline can switch between them without
changing what the model sees.

Token packing (``pack_token_spans``) is the GPT-style concat-and-chunk:
within each partition (shard/source), documents concatenate in epoch
order and the token stream is cut every ``seq_len`` tokens; a document
crossing a boundary SPLITS (fragments carry exact token counts, nothing
is dropped or padded except the final partial pack). Packing is
per-partition — a window cumsum inside the shard, never a global running
sum — because that is both the scale shape (each worker packs its own
shard stream) and the semantics training wants (locality preserved).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def epoch_keys(
    samples: DataFrame,
    *,
    seed: int,
    buffer: int | None = None,
    shard_col: str = "shard",
    key_col: str = "sample_key",
    index_col: str | None = "first_member_index",
) -> DataFrame:
    """Add the epoch-ordering key columns WITHOUT sorting — for consumers
    that only need the keys (a per-shard rank window, the packing cumsum):
    injecting a global sort between two shard-partitioned windows would
    break Catalyst's partitioning reuse and cost two extra exchanges.

      * ``epoch_shard_ord`` — md5(seed | shard), the shard shuffle rank;
      * ``epoch_block``     — archive-position block (0 when buffer is
        None or there is no archive index);
      * ``epoch_intra``     — md5(seed | shard | sample_key), the
        within-block shuffle rank.

    Same seed -> identical keys (pure hash function); different seed -> a
    different order with overwhelming probability. ``index_col`` names
    the archive-order column (assemble_samples' ``first_member_index``);
    None disables block bounding."""
    sseed = F.lit(str(int(seed)))
    out = samples.withColumn(
        "epoch_shard_ord", F.md5(F.concat_ws("|", sseed, F.col(shard_col)))
    ).withColumn(
        "epoch_intra",
        F.md5(
            F.concat_ws(
                "|", sseed, F.col(shard_col), F.col(key_col).cast("string")
            )
        ),
    )
    if buffer is not None and index_col is not None:
        w = Window.partitionBy(shard_col).orderBy(
            F.col(index_col), F.col(key_col)
        )
        out = out.withColumn(
            "epoch_block",
            ((F.row_number().over(w) - F.lit(1)) / F.lit(int(buffer)))
            .cast("long"),
        )
    else:
        out = out.withColumn("epoch_block", F.lit(0).cast("long"))
    return out


def epoch_rank_in_shard(ordered: DataFrame, *, shard_col: str = "shard",
                        key_col: str = "sample_key") -> DataFrame:
    """Per-shard epoch position (1-based) — a PARTITIONED window, so it
    scales; combined with ``epoch_shard_ord`` it determines the total
    epoch order without any global row-numbering."""
    w = Window.partitionBy(shard_col).orderBy(
        "epoch_block", "epoch_intra", key_col
    )
    return ordered.withColumn("epoch_rank", F.row_number().over(w))


def pack_token_spans(
    docs: DataFrame,
    *,
    seq_len: int,
    part_col: str,
    order_cols: list,
    token_col: str = "n_tokens",
) -> DataFrame:
    """Concat-and-chunk packing: one fragment row per (document, pack) it
    overlaps, with exact token accounting.

    Within each ``part_col`` partition, documents concatenate in
    ``order_cols`` order; token offsets come from a window cumsum; a
    document spanning [start, end) overlaps packs start//L .. (end-1)//L
    and contributes ``min(end, (p+1)L) - max(start, pL)`` tokens to pack
    p. Zero-token documents are dropped (they occupy no span — callers
    that must track them join back on the id). Output adds: ``pack_id``,
    ``frag_tokens``, ``tok_start`` (offset of the fragment inside the
    pack), ``doc_tok_offset`` (offset of the fragment inside ITS OWN
    document — slicing the document's token array at
    [doc_tok_offset, doc_tok_offset + frag_tokens) reconstructs the
    fragment exactly), ``n_frags`` (how many packs this document
    spans)."""
    L = int(seq_len)
    if L <= 0:
        raise ValueError(f"seq_len must be positive: {seq_len}")
    # ROWS (not the default RANGE) frame: RANGE sums peers with equal
    # order keys together — harmless only while keys are unique; ROWS is
    # the semantics packing means
    w = (
        Window.partitionBy(part_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        docs.filter(F.col(token_col) > 0)
        .withColumn(
            "_end", F.sum(token_col).over(w).cast("long")
        )
        .withColumn("_start", (F.col("_end") - F.col(token_col)).cast("long"))
    )
    # integer `div`, NOT `/`: Spark's `/` on longs returns double, which
    # silently loses exactness once a partition's token cumsum passes
    # 2^53 — at 100 TB that is a real boundary, and packing is exact
    # accounting by contract
    first = F.expr(f"_start div {L}L")
    last = F.expr(f"(_end - 1) div {L}L")
    return (
        spans.withColumn("n_frags", (last - first + 1).cast("long"))
        .withColumn("pack_id", F.explode(F.sequence(first, last)))
        .withColumn(
            "frag_tokens",
            F.least(F.col("_end"), (F.col("pack_id") + 1) * L)
            - F.greatest(F.col("_start"), F.col("pack_id") * L),
        )
        .withColumn(
            "tok_start",
            F.greatest(F.col("_start"), F.col("pack_id") * L)
            - F.col("pack_id") * L,
        )
        .withColumn(
            "doc_tok_offset",
            F.greatest(F.col("_start"), F.col("pack_id") * L)
            - F.col("_start"),
        )
        .drop("_start", "_end")
    )


def epoch_universe(shard_paths: list[str]) -> str:
    """Identity of the shard SET an epoch order is defined over — md5 of
    the sorted shard paths. Every epoch key is a pure hash of (seed,
    shard, key), so the epoch order is a pure function of this set: add,
    remove, or re-key (repack) ONE shard and the order is a different
    universe — a mid-epoch cursor minted in the old universe does not
    name a position in the new one (a new shard's samples sort anywhere,
    including BEFORE the cursor, so a naive resume silently skips them).
    Mint this alongside the cursor and hand it to ``epoch_after``'s
    ``universe``/``shard_paths`` pair to fail loudly instead. Shard
    CONTENT is deliberately not hashed: shards are immutable-by-name
    (sync_shards replaces a changed shard's
    rows, and repack re-keys), so the path set is the identity — and the
    check stays zero-IO on a million-shard corpus."""
    import hashlib

    return hashlib.md5("\n".join(sorted(shard_paths)).encode()).hexdigest()


def epoch_after(
    samples: DataFrame,
    *,
    seed: int,
    cursor_shard: str,
    cursor_key,
    buffer: int | None = None,
    shard_col: str = "shard",
    key_col: str = "sample_key",
    index_col: str | None = "first_member_index",
    validate: bool = True,
    universe: str | None = None,
    shard_paths: list[str] | None = None,
) -> DataFrame:
    """Sample-exact mid-epoch RESUME: the samples strictly AFTER the
    cursor in the seeded epoch order — a trainer that died at sample k
    restarts at k+1 with no replay and no skip (prefix + epoch_after ==
    the full epoch, list-exact; pinned in tests/test_epoch.py across
    shard and buffer-block boundaries).

    Scale shape, mirroring the driver-side shard order's zero-exchange
    story:
    every epoch key is a pure hash, so the shard-level cut is a pure
    DRIVER comparison (md5(seed|shard) vs the cursor shard's) — whole
    later shards pass with no per-row work beyond the hash compare, and
    earlier shards prune entirely. Only the cursor's OWN shard needs its
    in-shard position, and that is resolved inside the same
    shard-partitioned window ``epoch_keys`` already computes (the
    cursor's block looked up as a windowed max over the one shard) — no
    additional exchange anywhere. A non-materializing consumer does the
    same cut driver-side: take the shards after the cursor shard in the
    md5(seed | shard) order, plus the cursor shard re-read with this
    frame's in-shard predicate.

    ``validate=True`` (one bounded existence probe) rejects a cursor
    that names no sample: with ``buffer`` set, a missing cursor has no
    archive position, so its block — and therefore the resume point —
    would be undefined; failing loudly beats silently skipping or
    replaying data.

    ``universe`` + ``shard_paths`` (pass both) reject a cursor minted
    over a DIFFERENT shard set (``epoch_universe``): the existence probe
    alone cannot catch a shard ADDED since the cursor — its samples sort
    anywhere in the epoch order, including before the cursor, and a
    naive resume would silently skip every one of them."""
    import hashlib

    if (universe is None) != (shard_paths is None):
        raise ValueError(
            "universe and shard_paths must be passed together (the"
            " recorded universe is checked against the CURRENT shard set)"
        )
    if universe is not None:
        current = epoch_universe(shard_paths)
        if current != universe:
            raise ValueError(
                "epoch universe changed since the cursor was minted"
                f" (recorded {universe}, current {current}): the shard"
                " set gained/lost/re-keyed members, so the cursor does"
                " not name a position in the current epoch order —"
                " restart the epoch (or re-mint the cursor) instead of"
                " resuming"
            )
    if validate:
        hit = (
            samples.filter(
                (F.col(shard_col) == cursor_shard)
                & (F.col(key_col) == cursor_key)
            )
            .limit(1)
            .count()
        )
        if not hit:
            raise ValueError(
                f"epoch_after cursor names no sample: "
                f"({cursor_shard!r}, {cursor_key!r})"
            )
    keyed = epoch_keys(
        samples,
        seed=seed,
        buffer=buffer,
        shard_col=shard_col,
        key_col=key_col,
        index_col=index_col,
    )
    s = str(int(seed))
    cur_ord = hashlib.md5(f"{s}|{cursor_shard}".encode()).hexdigest()
    cur_intra = hashlib.md5(
        f"{s}|{cursor_shard}|{cursor_key}".encode()
    ).hexdigest()
    # whole-shard cut: pure hash comparison (shard path as tiebreak,
    # matching the epoch sort)
    later_shard = (F.col("epoch_shard_ord") > F.lit(cur_ord)) | (
        (F.col("epoch_shard_ord") == F.lit(cur_ord))
        & (F.col(shard_col) > F.lit(cursor_shard))
    )
    # in-shard cut: the cursor's block comes from the SAME partitioning
    # epoch_keys' window uses — a windowed lookup, not a new exchange
    # (materialized as a column first: Spark rejects window functions
    # inside WHERE)
    w = Window.partitionBy(shard_col)
    keyed = keyed.withColumn(
        "_cur_blk",
        F.max(
            F.when(F.col(key_col) == cursor_key, F.col("epoch_block"))
        ).over(w),
    )
    blk = F.col("_cur_blk")
    tail_of_cursor_shard = (F.col(shard_col) == F.lit(cursor_shard)) & (
        (F.col("epoch_block") > blk)
        | (
            (F.col("epoch_block") == blk)
            & (F.col("epoch_intra") > F.lit(cur_intra))
        )
        | (
            (F.col("epoch_block") == blk)
            & (F.col("epoch_intra") == F.lit(cur_intra))
            & (F.col(key_col) > cursor_key)
        )
    )
    return keyed.filter(later_shard | tail_of_cursor_shard).drop("_cur_blk")
