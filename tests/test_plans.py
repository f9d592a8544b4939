"""Physical-plan quality gates.

Correctness says the numbers match; these tests pin the *plan shapes* that
make the operators survive a 100x scale-up: parquet filter pushdown, column
pruning, broadcast joins on bounded dimensions, top-k as
TakeOrderedAndProject (never a global sort), partition pruning on the
bucketed chunks layout, and shuffle budgets per query.

If a refactor regresses one of these (a filter stops reaching the scan, a
dim join silently becomes a shuffle join), correctness stays green but the
100 TB plan is broken — these tests are the tripwire.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.queries import queries

SF_DIR = "/root/testdata/sf0.001"


def plan(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_q6_pushdown_and_pruning(spark, qs):
    p = plan(qs["tpch_q6_selective"](spark, SF_DIR))
    # range predicates reach the parquet scan
    assert "PushedFilters: [" in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "LessThan(l_quantity" in p
    # column pruning: 4 needed columns, never the 12-column wide row
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert read.count(":") - 1 <= 4, read
    assert "l_comment" not in read and "l_orderkey" not in read


def test_scan_projection_prunes_columns(spark, qs):
    p = plan(qs["scan_projection"](spark, SF_DIR))
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    for unused in ("o_totalprice", "o_comment", "o_clerk"):
        assert unused not in read, read
    assert "EqualTo(o_orderstatus,O)" in p


def test_star_join_broadcasts_dimensions(spark, qs):
    p = plan(qs["tpch_q5_region"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_topk_is_take_ordered_not_global_sort(spark, qs):
    for name in ("vector_topk", "tpch_q3_topk", "tpch_q10_returns"):
        p = plan(qs[name](spark, SF_DIR))
        assert "TakeOrderedAndProject" in p, name


def test_q1_single_aggregation_shuffle(spark, qs):
    p = plan(qs["tpch_q1_pricing"](spark, SF_DIR))
    # partial+final agg -> exactly one hash-partition exchange, plus at most
    # the final ORDER BY's range exchange; anything more is a regression
    assert p.count("+- Exchange") + p.count("(Exchange") <= 2, p


def test_semi_join_for_exists(spark, qs):
    p = plan(qs["tpch_q4_priority"](spark, SF_DIR))
    assert "LeftSemi" in p
    # EXISTS must not degenerate into an inner join + distinct
    assert "Distinct" not in p


def test_anti_join_for_not_in(spark, qs):
    p = plan(qs["tpch_q16_supplier_cnt"](spark, SF_DIR))
    assert "LeftAnti" in p


def test_neighbor_read_prunes_partitions(spark, tmp_path):
    from mcp_local_rag_spark.operators.neighbors import read_neighbors
    from mcp_local_rag_spark.plans.ingest import write_chunks

    table = str(tmp_path / "chunks")
    rows = spark.range(1000).select(
        F.concat(F.lit("/d"), (F.col("id") % 7).cast("string"), F.lit(".md")).alias(
            "filePath"
        ),
        (F.col("id") / 7).cast("int").alias("chunkIndex"),
        F.lit("t").alias("text"),
    )
    write_chunks(rows, table)
    df = read_neighbors(spark.read.parquet(table), "/d3.md", 50)
    p = plan(df)
    # the bucket equality must land in PartitionFilters (directory pruning),
    # filePath plus the block-rounded coarse chunkIndex BETWEEN must reach
    # the row-group level, and the exact bounds ride as zero-padded string
    # compares (r16: one codegen shape per document, so first-sight
    # positions stop paying Janino — see operators/neighbors.py)
    assert "PartitionFilters: [" in p and "bucket" in p.split("PartitionFilters")[1][:200]
    assert "EqualTo(filePath,/d3.md)" in p
    assert "GreaterThanOrEqual(chunkIndex,0)" in p
    assert "LessThanOrEqual(chunkIndex,65535)" in p
    assert "lpad(cast(chunkIndex" in p  # exact bounds, codegen-cacheable form
    # no shuffle at all in a point read
    assert "Exchange" not in p


def test_bm25_scan_scorer_has_no_shuffle_before_agg(spark):
    from mcp_local_rag_spark.operators.bm25 import bm25_scores_scan
    from mcp_local_rag_spark.queries.common import chunks_df

    ch = chunks_df(spark, SF_DIR)
    scored = bm25_scores_scan(ch, ["spark", "join"], id_cols=("chunkIndex",))
    p = plan(scored)
    # scoring side: map-side row math over the scan. The ONLY allowed
    # exchanges are (a) broadcast sides (dim join / the 1-row stats cross
    # join), (b) the SinglePartition gather of per-partition partial
    # stats rows — one tiny row per task, not a data shuffle — and
    # (c) session.spread's RoundRobin widening of a parallelism-starved
    # single-split scan (r15: a no-op at real scale, where inputs arrive
    # in >= cores splits). Never a HASH-partitioned exchange of corpus
    # or candidate rows.
    import re

    for m in re.finditer(r"\(\d+\) Exchange\b[^\n]*\n((?:[^\n]+\n)*?)\n", p):
        assert (
            "SinglePartition" in m.group(1)
            or "RoundRobinPartitioning" in m.group(1)
        ), p
    # and no interpreted lambda HOFs in the hot path
    assert "ArrayFilter" not in p and "ArrayTransform" not in p


def test_asof_join_is_window_not_nested_loop(spark, qs):
    p = plan(qs["events_asof_lastclick"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Window" in p
    # one shuffle for the window key + the final presentation sort
    assert p.count("+- Exchange") + p.count("(Exchange") <= 2, p


def test_range_join_is_bucketed_equi_join(spark, qs):
    p = plan(qs["events_range_prev_hour"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # the bucketed formulation joins hash-style on (user_id, bucket)
    assert "Join" in p


def test_q21_exists_pair_stays_hash_equi_joined(spark, qs):
    """Q21's exists/not-exists pair runs as the aggregate formulation (one
    countDistinct pass over the joined fact + an equi-join on the stats) —
    all joins hash/sort-merge, never a nested loop over lineitem."""
    p = plan(qs["tpch_q21_sole_late"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    assert "HashAggregate" in p


def test_q17_scalar_avg_broadcasts(spark, qs):
    """Per-part avg-quantity threshold joins the fact on partkey — hash
    join, no nested loop; the 0.2*avg compare is post-join."""
    p = plan(qs["tpch_q17_small_qty"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "Join" in p


def test_q22_scalar_subquery_is_single_row_broadcast(spark, qs):
    """The global avg-balance scalar rides a broadcast of a ONE-ROW
    aggregate — the only acceptable nested-loop shape (Cross with a 1-row
    build side); the NOT EXISTS stays a hash anti join."""
    import re

    p = plan(qs["tpch_q22_idle_rich"](spark, SF_DIR))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p
    bnlj_types = set(re.findall(r"BroadcastNestedLoopJoin (\w+)", p))
    assert bnlj_types <= {"Cross"}, bnlj_types
    assert "BroadcastExchange" in p


def test_moving_avg_is_partitioned_range_window(spark, qs):
    """RANGE-frame moving average: the window is keyed by user_id (one
    hash shuffle, state bounded per key), with a RangeFrame — never a
    single-partition window over the whole fact."""
    p = plan(qs["events_moving_avg"](spark, SF_DIR))
    assert "Window" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "RangeFrame" in p
    assert "windowspecdefinition(user_id" in p


def test_fuzzy_join_is_blocked_equi_join(spark, qs):
    """Levenshtein candidate pairs come from an equi-join on the blocking
    key — the edit-distance filter runs post-join, never as a cross join."""
    p = plan(qs["part_fuzzy_pairs"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_knn_kernel_is_mapinpandas_partial_topk(spark, qs):
    """Brute-force kNN: Arrow kernel emits per-partition top-k; the global
    pick is a WindowGroupLimit over k*queries*partitions rows — no
    cartesian pair explosion, at most the one final-shuffle exchange."""
    p = plan(qs["knn_bruteforce"](spark, SF_DIR))
    assert "MapInPandas" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p
    assert p.count("+- Exchange") + p.count("(Exchange") <= 2, p


def test_resample_grid_has_no_cartesian(spark, qs):
    """Gap-fill grid: sequence+explode (no per-user driver loop), keyed
    windows, equi-join of grid to hourly observations."""
    p = plan(qs["events_resample_ffill"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Generate explode" in p or "Generate" in p
    assert "windowspecdefinition(user_id" in p


def test_decontaminate_gram_join_is_equi_join(spark, qs):
    """The benchmark-overlap join must key on the n-gram (shuffled or
    broadcast hash/merge equi-join) — never a nested-loop over doc pairs."""
    p = plan(qs["corpus_decontaminate"](spark, SF_DIR))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    assert ("SortMergeJoin" in p) or ("ShuffledHashJoin" in p) or ("BroadcastHashJoin" in p)


def test_pack_bins_window_is_partitioned(spark, qs):
    """Sequence packing windows per language shard — a global (empty
    partition-by) running sum would serialize the corpus on one task."""
    p = plan(qs["documents_pack_bins"](spark, SF_DIR))
    assert "Window" in p
    # the window's partition spec carries the lang column
    import re

    w = re.search(r"\(\d+\) Window(?:.|\n)*?Arguments: .*", p)
    assert w and "lang" in w.group(0)


def test_split_assign_is_single_aggregate(spark, qs):
    """Hash-split assignment is a map-side expression + one aggregate:
    exactly one shuffle, no join anywhere."""
    p = plan(qs["corpus_split_assign"](spark, SF_DIR))
    assert "Join" not in p
    assert p.count("Exchange") <= 2  # partial->final agg (+AQE read)


def test_gopher_filter_is_single_pass_no_shuffle(spark, qs):
    p = plan(qs["text_gopher_filter"](spark, SF_DIR))
    # every metric is a per-row array expression: one narrow scan — the
    # filter streams at scan speed on any corpus. The only exchange
    # allowed is session.spread's RoundRobin widening of a starved
    # single-split scan (r15; a no-op at real scale) — never a
    # hash/range shuffle.
    import re

    for m in re.finditer(r"\(\d+\) Exchange\b[^\n]*\n((?:[^\n]+\n)*?)\n", p):
        assert "RoundRobinPartitioning" in m.group(1), p
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "text" in read and "embedding" not in read and "source" not in read


def test_pii_redact_is_map_only(spark, qs):
    p = plan(qs["text_pii_redact"](spark, SF_DIR))
    assert "Exchange" not in p, p
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    # reads only the two columns the construction needs
    assert "doc_id" in read and "text" in read and "n_chars" not in read


def test_repetition_is_single_shuffle(spark, qs):
    p = plan(qs["text_repetition"](spark, SF_DIR))
    # the explicit doc_id repartition is the ONLY exchange: both chained
    # aggregations reuse its partitioning, and explode_outer removes the
    # join-back (no broadcast side at all)
    n_exchanges = p.count("+- Exchange") + p.count("(Exchange")
    assert n_exchanges <= 1, p
    assert "Join" not in p, p


def test_deciles_have_no_unpartitioned_window(spark, qs):
    """NTILE-style decile summary must not gather the table into a
    single-partition WindowExec (the 'No Partition Defined for Window'
    scale-killer): the two-phase rank plan has NO window at all — range
    exchange + partition-local rank + tiny broadcast of offsets."""
    df = qs["customer_balance_deciles"](spark, SF_DIR)
    p = plan(df)
    assert "Window" not in p
    assert "rangepartitioning" in p.lower()
    rows = {r.decile: r.n for r in df.collect()}
    assert sum(rows.values()) > 0 and len(rows) == 10


def _executed_plans(spark, monkeypatch) -> list[str]:
    """Formatted plans of every frame collected from here on: the Spark
    work a driver-reranked pipeline actually runs, which its returned
    LocalRelation no longer shows."""
    frame_cls = type(spark.range(0))  # the concrete (classic) DataFrame
    plans = []
    for name in ("collect", "toArrow", "first"):
        orig = getattr(frame_cls, name)

        def recorded(self, *args, _orig=orig, **kwargs):
            plans.append(plan(self))
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(frame_cls, name, recorded)
    return plans


def _assert_indexed_hybrid_work(plans: list[str]) -> None:
    # the vector stage is a top-k heap merge, never a global sort
    assert any("TakeOrderedAndProject" in p for p in plans)
    # BM25 reads the postings with the query terms pushed into the scan
    assert any("In(term" in p for p in plans)
    # the persisted corpus statistics arrive as literals: no avg(dl)
    # aggregate over the index runs for the query
    assert not any("avgdl" in p for p in plans)


def test_indexed_hybrid_scans_postings_with_pushed_terms(spark, qs, monkeypatch):
    """Steady-state hybrid: the Spark work is the vector top-k and one
    postings lookup with the query's terms PUSHED into the parquet scan
    (row-group pruning on the term-sorted layout); the persisted corpus
    statistics arrive as literals. The rerank runs on the driver, so the
    returned frame is a LocalRelation."""
    plans = _executed_plans(spark, monkeypatch)
    out = qs["hybrid_search_indexed"](spark, SF_DIR)
    _assert_indexed_hybrid_work(plans)
    assert "LocalTableScan" in plan(out)


def test_term_bucketed_bm25_partition_prunes(spark, qs):
    """The query-side term-bucketed index copy: the scan must carry a
    tbucket partition filter (only the query terms' directories are
    listed/scanned) and fold the persisted stats in as literals."""
    p = plan(qs["bm25_term_bucketed"](spark, SF_DIR))
    assert "tbucket" in p, p             # partition filter present
    assert "avgdl" not in p              # no corpus stats aggregate


def test_hybrid_batch_single_corpus_scan(spark, qs, monkeypatch):
    """The batched hybrid pipeline: exactly ONE Arrow kernel pass over the
    corpus serves every query's vector stage (no per-query re-scan), and
    the keyword side reads the postings with the union of all queries'
    terms pushed into the scan. The rerank runs on the driver, so the
    returned frame is a LocalRelation. No executed plan broadcasts or
    reads a cache, so the batch has no broadcast/cache state for a
    concurrent caller to race on."""
    plans = _executed_plans(spark, monkeypatch)
    out = qs["hybrid_search_batch"](spark, SF_DIR)
    assert sum("MapInPandas" in p for p in plans) == 1, plans
    assert any("In(term" in p for p in plans)
    assert not any("avgdl" in p for p in plans)  # persisted stats as literals
    assert not any(
        "BroadcastExchange" in p or "InMemoryTableScan" in p for p in plans
    ), plans
    assert "LocalTableScan" in plan(out)


def test_entry_flagship_is_the_indexed_plan(spark, monkeypatch):
    """The driver-facing flagship entry() must BE the steady-state indexed
    shape: postings scan with pushed term filter, persisted stats as
    literals, no full-corpus stats aggregate anywhere it runs."""
    import __spark_entry__ as E

    plans = _executed_plans(spark, monkeypatch)
    df = E.entry(spark)
    _assert_indexed_hybrid_work(plans)
    assert len(df.limit(1).collect()) == 1  # and it still answers


def test_simhash_pairs_blocked_no_cartesian(spark, qs):
    """SimHash pair generation must stay a blocked equi-join — no
    cartesian/nested-loop product of the signature table with itself."""
    p = plan(qs["dedup_simhash_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_boilerplate_ngrams_is_map_then_two_aggregates(spark, qs):
    """Boilerplate mining: map-only shingles (no pre-aggregation shuffle
    beyond the distinct), then one count aggregate + top-k."""
    p = plan(qs["corpus_boilerplate_ngrams"](spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "Window" not in p


def test_dsir_ratio_table_broadcasts(spark, qs):
    """DSIR scoring must meet the 4096-row bucket-ratio table through a
    broadcast join; the only corpus-sized exchanges are the token-bucket
    aggregates. A sort-merge join here would shuffle every token row."""
    p = plan(qs["corpus_dsir_weights"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_dedup_spans_single_gram_pass(spark, qs):
    """Repeated-span coverage builds the gram stream ONCE: a (g, doc_id)
    aggregate pre-partitioned by g feeds both the cross-doc count window
    (partitioned by g — never a global window) and the occurrence stream,
    so the corpus is tokenized once and the gram stream crosses the wire
    once. No cartesian/nested-loop step anywhere, and coverage is the
    per-doc interval merge (no kx position explode + global distinct)."""
    p = plan(qs["text_dedup_spans"](spark, SF_DIR))
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    # the count window must be keyed by the gram hash, not global
    assert "windowspecdefinition(g#" in p, p
    # one gram-stream shuffle (on g) + the final per-doc aggregate only
    assert p.count("Exchange hashpartitioning") <= 2, p
    # single tokenize+gram build: exactly one position-sequence explode
    # (formatted mode lists each Generate's expression once, under its
    # node detail section)
    assert p.count("explode(sequence") == 1, p


def test_bloom_probe_never_shuffle_joins_the_bit_table(spark, qs):
    """The Bloom bit table (<= 8192 rows) must broadcast; the probe side
    stays map-side until its own per-key aggregate."""
    p = plan(qs["events_bloom_prune"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_click_attribution_is_keyed_equi_join(spark, qs):
    """The interval join keys on user_id (one shuffle per side); the time
    range rides as a join/post condition — never a nested-loop or
    cartesian pairing of the two event subsets."""
    p = plan(qs["events_click_attribution"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "user_id" in p


def test_minhash_signature_build_single_shuffle(spark):
    """The r9 signature build: map-only shingle stream (no distinct —
    min is duplicate-insensitive) into one partial-aggregated
    groupBy(id). Exactly ONE Exchange in the whole plan, and it carries
    the per-doc aggregate, not the exploded shingle stream."""
    from mcp_local_rag_spark.operators.dedup import minhash_signatures_docs

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta " * 4) for i in range(6)],
        "doc_id long, text string",
    )
    import re

    p = plan(minhash_signatures_docs(docs))
    assert len(re.findall(r"\bExchange \(\d+\)", p)) == 1, p
    # partial aggregation BELOW the exchange: the shuffle moves one
    # combined row per (doc, map partition), never raw shingles
    assert "HashAggregate" in p.split("Exchange")[1], p


def test_unattributed_impressions_is_anti_join(spark, qs):
    """The left-outer attribution's expiry set plans as a LeftAnti
    user-keyed equi-join — matched fan-out never materialized, no
    nested-loop pairing."""
    p = plan(qs["events_impressions_unattributed"](spark, SF_DIR))
    assert "LeftAnti" in p, p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "user_id" in p


def test_minhash_estimate_joins_narrow_signatures(spark, qs):
    """The Jaccard estimator must join the 16-column signature table,
    never the shingle stream: no Generate (explode) downstream of the
    pair build's own band explode, and both estimator joins are hash
    equi-joins on the pair ids."""
    p = plan(qs["dedup_minhash_estimate"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # est_jaccard is a pure column expression over sig equality casts
    assert "est_jaccard" in p


def test_zorder_read_pushes_both_dimensions(spark, qs):
    """The clustered-layout read must push BOTH range predicates to the
    parquet scan — a wrapped column (unix_micros(ts) < lit) would defeat
    ts pushdown and with it the layout's whole point."""
    p = plan(qs["events_zorder_read"](spark, SF_DIR))
    assert "PushedFilters" in p, p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "user_id" in pushed and "LessThan(ts" in pushed, pushed


def test_webdataset_assembly_single_exchange(spark):
    """Shard expansion is a pure map stage; sample assembly adds exactly
    ONE exchange (hash on shard+sample_key with a partial aggregate
    before it) — the shard stays the parallelism grain, no global sort,
    no second shuffle anywhere in the member path."""
    from mcp_local_rag_spark.sources.webdataset import (
        assemble_samples,
        expand_shards,
        write_tar_shard,
    )

    shards = spark.createDataFrame(
        [("/mem/p.tar", bytearray(write_tar_shard([("k.txt", b"v")])))],
        "path string, content binary",
    )
    members = expand_shards(shards)
    assert "Exchange" not in plan(members)  # map-only
    p = plan(assemble_samples(members))
    tree = p.partition("\n\n")[0]  # operator tree (nodes repeat in details)
    assert tree.count("Exchange") == 1
    assert "hashpartitioning(shard" in p
    assert "partial_" in p  # map-side combine before the exchange
    assert "Sort [" not in p.split("Exchange")[0]  # no global sort


def test_tpch_q5_prunes_both_sides_before_the_big_shuffles(spark, qs):
    """q5's two big shuffles (lineitem><orders, ><customer) must carry
    only candidate rows: region/nation/supplier resolve broadcast-side
    and customers are pre-pruned to ASIA nations by a broadcast semi the
    optimizer cannot infer across c_nationkey = s_nationkey."""
    p = plan(qs["tpch_q5_local_volume"](spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "LeftSemi" in p  # the customer-nation pre-prune survives
    assert "CartesianProduct" not in p and "BroadcastNestedLoop" not in p
    # the orders date range reaches the scan
    assert "GreaterThanOrEqual(o_orderdate" in p


def test_tpch_q6_new_lane_full_pushdown(spark, qs):
    """The r14 q6 lane: every predicate in PushedFilters, single-row
    partial-agg merge, no join anywhere in the plan."""
    p = plan(qs["tpch_q6_forecast"](spark, SF_DIR))
    assert "Join" not in p
    assert "GreaterThanOrEqual(l_shipdate" in p
    assert "GreaterThanOrEqual(l_discount" in p and "LessThanOrEqual(l_discount" in p
    assert "LessThan(l_quantity" in p
    read = next(line for line in p.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in read and "l_partkey" not in read


def test_tpch_q18_aggregates_before_joining(spark, qs):
    """q18: the corpus-sized lineitem aggregation runs FIRST (one
    exchange on l_orderkey); the HAVING sliver then joins orders and
    customer — never a pre-aggregation join of lineitem against orders."""
    p = plan(qs["tpch_q18_large_volume"](spark, SF_DIR))
    agg_pos = p.find("HashAggregate")
    join_pos = p.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # in the formatted tree the aggregate subtree appears under the join,
    # but the SCAN feeding the aggregate must be lineitem and the
    # aggregate must sit between the lineitem scan and any join input
    assert "TakeOrderedAndProject" in p  # top-100 never a global sort
    assert "CartesianProduct" not in p


def test_epoch_order_is_two_exchanges_shard_rank_leading(spark, qs):
    """corpus_epoch_order: exactly TWO exchanges — the shard-hash
    partition shared by the archive-index and rank windows (epoch_keys
    adds no mid-plan sort, so Catalyst reuses it), and the final
    presentation range sort with the shard rank leading (output
    partitions hold whole shards). Was 4 before the epoch_keys refactor
    — the sort injected between the two windows broke partition reuse."""
    import re

    p = _simple(qs["corpus_epoch_order"](spark, SF_DIR))
    assert "Join" not in p and "CartesianProduct" not in p
    assert p.count("Exchange") <= 2, p
    assert re.search(r"rangepartitioning\(shard_ord", p), p
    # both windows partition by the shard axis — never the empty list
    for m in re.finditer(r"Window \[[^\n]*?\], \[([^\]]*)\],", p):
        assert "shard" in m.group(1), m.group(0)


def test_pack_sequences_cumsum_is_partitioned_by_shard(spark, qs):
    """corpus_pack_sequences: the packing cumsum is a PARTITIONED window
    (by the shard axis), never a global running sum — the unpartitioned-
    window single-task collapse is the scale killer this lane must not
    have; pack-id expansion is a Generate (explode of sequence), not a
    join."""
    import re

    p = _simple(qs["corpus_pack_sequences"](spark, SF_DIR))
    assert "CartesianProduct" not in p and "NestedLoop" not in p
    wins = re.findall(r"Window \[[^\n]*?\], \[([^\]]*)\],", p)
    assert wins, p
    for spec in wins:
        assert "shard" in spec, spec
    assert "Generate explode" in p


def _simple(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    return jqe.explainString(mode)


def test_bpe_batched_pair_count_shuffle_budget(spark, qs):
    """One sweep's pair-count plan: corpus word-count aggregate + pair
    aggregate — at most three exchanges end to end (words groupBy, pair
    groupBy, and the base explode's pre-shuffle), no join anywhere; the
    selection windows run over the vocabulary-sized maxima frame, never
    the corpus."""
    from mcp_local_rag_spark.queries.curation import (
        _bpe_pair_counts,
        _bpe_words,
    )

    p = _simple(_bpe_pair_counts(_bpe_words(spark, SF_DIR)))
    assert "Join" not in p
    assert p.count("Exchange") <= 3, p
