"""Dump formatted physical plans of headline queries to PLANS.md.

The plan-shape *gates* live in tests/test_plans.py; this artifact is the
human-readable companion: what each headline plan looks like and why that
shape is the one we want at 100 TB. Regenerate after plan-affecting
changes: python tools/explain_audit.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"

COMMENTARY = {
    "documents_secondary_range": (
        "Range lookup through the sharded secondary index: one tiny "
        "full-index scan (O(distinct values x S) rows) with the range "
        "pushed, then either the typed pk IN-list plan (selective; pks "
        "routed to buckets driver-locally, row-group pruning in the "
        "key-sorted files) or the distributed shard->bucket plan (skewed; "
        "driver state <= S counters). Source cost rides the range's "
        "selectivity, never the table."
    ),
    "dedup_minhash_banded": (
        "Candidates from the persisted band-bucketed index: one "
        "ObjectHashAggregate over the narrow (id, band, band_key) table "
        "+ a JVM higher-order pair expansion + distinct. No re-shingling, "
        "no two-sided self-join exchange; oversized boilerplate buckets "
        "route through the same salted join lsh_candidate_pairs uses. "
        "At 100x replicas the lane is output-bound (30M true pairs); "
        "per-pair cost falls 4.7 -> 0.60 us (BENCH_SCALE_r11)."
    ),
    "documents_schema_evolution": (
        "Rename + drop are manifest-only commits (schema log); the read "
        "is the same manifest-pruned per-dir union with withColumnRenamed/"
        "drop applied per data dir by write-era — zero extra shuffles, "
        "zero data rewritten. The re-added column reads NULL from "
        "pre-drop dirs via the log, not a rewrite."
    ),
    "tpch_q6_selective": (
        "Pushdown-heavy scan: every range predicate lands in PushedFilters, "
        "ReadSchema is 4 of 12 lineitem columns, one partial+final aggregate "
        "shuffle of a single row. At 100 TB this reads only the matching "
        "row groups of 4 columns."
    ),
    "tpch_q5_region": (
        "Star join: region/nation/supplier broadcast (bounded dimensions at "
        "any SF), fact tables shuffle-join on their keys under AQE. No "
        "cartesian products."
    ),
    "vector_topk": (
        "Flat KNN is TakeOrderedAndProject over a map-side distance "
        "expression: per-partition top-k then a k-row merge on the driver — "
        "no global sort, no shuffle of the corpus."
    ),
    "tpch_q17_small_qty": (
        "Correlated avg-quantity subquery becomes a per-part aggregate "
        "joined back to lineitem; the threshold compare is exact decimal "
        "(5*qty*cnt < sum) so no float-order nondeterminism."
    ),
    "sync_plan": (
        "Full-outer manifest reconcile: both sides aggregate to one row per "
        "key before the join, so the shuffle carries manifests (one row per "
        "file), not chunk rows."
    ),
    "dedup_minhash_lsh": (
        "Round 9: the signature build lost its (id, shingle) DISTINCT — "
        "MinHash's min is duplicate-insensitive, so the pipeline's largest "
        "shuffle (the whole exploded shingle stream) bought nothing. The "
        "build is now map-only (explode + concat_ws, whole-stage codegen) "
        "up to ONE partial-aggregated groupBy(id) whose shuffle carries "
        "~one narrow row per document; the remaining shuffles are the "
        "band-bucket census and the candidate self-join, keyed on (band, "
        "bucket). Hot-bucket salting (r8) unchanged: buckets past "
        "bucket_cap=128 split across ceil(n/cap) salts with a provably "
        "identical pair set. 100x replicas: 14.0s -> 11.2s, 10x->100x "
        "exponent 0.52 -> 0.46 (BENCH_SCALE_r09.json)."
    ),
    "knn_bruteforce": (
        "Multi-query exact top-k: an Arrow mapInPandas kernel does one "
        "numpy matmul per corpus batch against the broadcast query matrix "
        "and emits only its local top-k per query; the global pick is a "
        "WindowGroupLimit over k*queries*partitions rows. Map-only scan "
        "plus a tiny final shuffle — no crossJoin materialization."
    ),
    "events_moving_avg": (
        "RANGE-frame moving average keyed by user_id: one hash shuffle, "
        "per-key bounded window state — the plan Structured Streaming "
        "would run with keyed state at 100 TB/day."
    ),
    "parsed_docx_roundtrip": (
        "Format parsing is a pure map stage: mapInPandas builds and parses "
        "container bytes executor-side; the scan reads only the three "
        "columns the template needs. No shuffle anywhere."
    ),
    "text_gopher_filter": (
        "Composite quality filter as a single codegen'd pass: every metric "
        "(token count, char sum, distinct ratio) is a per-row array "
        "expression; zero exchanges, so the filter runs at scan speed on "
        "any corpus size."
    ),
    "text_repetition": (
        "Bigram repetition stats in ONE shuffle: the explicit doc_id "
        "repartition satisfies the clustered distribution of both chained "
        "aggregations (doc_id+bigram counts, then the per-doc rollup), and "
        "explode_outer keeps empty docs without a join-back."
    ),
    "text_pii_redact": (
        "PII counting + redaction is a map-only JVM regexp chain over two "
        "scanned columns — the shape that saturates I/O on a 100 TB scrub "
        "with no Python in the path."
    ),
    "hybrid_search": (
        "Spark runs the vector top-k (TakeOrderedAndProject) with the "
        "candidates' tf/dl folded into its projection, plus one shuffle-"
        "free corpus-stats aggregate; the driver reranks the <=2k "
        "candidates (grouping, BM25, boost, file filter) and returns a "
        "LocalRelation, so the plan shown is a LocalTableScan."
    ),
    "hybrid_search_indexed": (
        "The steady-state shape: the vector top-k plus ONE term-grouped "
        "aggregate over the PERSISTED bucketed postings table — the term "
        "IN-filter pushes into the term-sorted parquet scan (row-group "
        "pruning), the persisted corpus statistics are literals, and only "
        "the candidates' (tf, dl) reach the driver, which reranks and "
        "returns a LocalRelation. Per-query cost is bounded by the matched "
        "terms' row groups, not corpus size."
    ),
    "knn_lsh_hyperplane": (
        "Model-free ANN: a map-only Arrow kernel signs every vector into "
        "one of 2^n_planes buckets; each query probes its bucket plus "
        "Hamming-1 flips, and the cosine kernel masks corpus batches by "
        "bucket with per-partition partial top-k. No shuffle of the "
        "corpus, no trained model, scanned fraction ~(n_planes+1)/2^n."
    ),
    "vector_topk_batch": (
        "Concurrent-serving W1: the query matrix broadcasts into ONE "
        "Arrow scan of the corpus; per-partition local top-k per query, "
        "then a per-query window merge over <= queries x partitions x 2k "
        "rows. N queries cost one pass, not N."
    ),
    "events_hll_distinct": (
        "Mergeable HyperLogLog from built-ins: register extraction is "
        "pure projection, register merge is ONE partial+final max "
        "aggregate over (key, 256 registers) — the shape that replaces "
        "exact countDistinct's full shuffle of distinct values at scale. "
        "The estimate arithmetic is deterministic, so the oracle matches "
        "it exactly."
    ),
    "dedup_minhash_incremental": (
        "Incremental dedup: the arriving batch shingles+signs map-only "
        "and band-joins the (persisted) corpus signature table — per-"
        "batch cost scales with the batch; the corpus is never re-read "
        "beyond its narrow signature rows."
    ),
    "bm25_term_bucketed": (
        "The query-side SECOND copy of the postings index, bucketed by "
        "TERM hash: the query's terms resolve to a handful of tbucket "
        "partition directories, so the scan PARTITION-prunes before any "
        "row is read and the persisted corpus stats fold in as literals. "
        "At 100 TB a 4-term query touches ~4/n_buckets of the index — the "
        "layout for query-heavy workloads, derived (never maintained) "
        "from the doc-aligned maintenance copy."
    ),
    "hybrid_search_batch": (
        "The FULL hybrid pipeline amortized over N concurrent queries: "
        "one Arrow kernel pass serves every query's vector stage and is "
        "collected once, and the keyword side is one term-grouped "
        "postings aggregate with the UNION of all queries' terms pushed "
        "down. The driver reranks each query's <= 2k candidates with "
        "hybrid_search's code and returns a LocalRelation already in "
        "(query_id, score, chunkIndex) order, so the lane adds no Sort and "
        "the plan shown is a LocalTableScan."
    ),
    "knn_recall_report": (
        "ANN quality instrumentation: brute-force truth computed once "
        "(driver-materialized <=30 rows), each variant's top-10 semi-"
        "joined against it — recall@10 per (variant, query) as data, so "
        "probe-count / plane-count tradeoffs are measured, not assumed."
    ),
    "customer_balance_deciles": (
        "NTILE without the single-partition window: range exchange on the "
        "ordering key, partition-local row numbers from a mapInPandas "
        "counter (no extra shuffle), cumulative offsets broadcast back as "
        "a tiny join, decile from rank arithmetic. The plan contains NO "
        "WindowExec — the scale-killer 'No Partition Defined for Window' "
        "gather cannot appear."
    ),
    "corpus_dsir_weights": (
        "DSIR importance scoring: token->bucket is a map-only md5+mod; the "
        "target/raw distributions are 4096-row aggregates with map-side "
        "partial combine; the log-ratio table folds on the DRIVER (<= "
        "4096 rows at any corpus size, glibc log shared with the oracle) "
        "and broadcasts onto the per-(doc,bucket) counts; the per-doc "
        "average runs in integer micro-units (no float round in the "
        "cross-engine contract). The only corpus-sized shuffle is the "
        "per-doc aggregate — the minimum any per-document scorer pays."
    ),
    "text_dedup_spans": (
        "Repeated-span coverage: 8-gram construction is explode+slice+md5 "
        "(codegen, no per-doc window sort); cross-doc grams come from one "
        "aggregate on the gram hash; the join back is an equi semi-join; "
        "coverage is a bounded 8x explode over only duplicated "
        "occurrences. Linear in corpus tokens, no all-pairs step."
    ),
    "events_bloom_prune": (
        "Bloom join pruning: the <=8192-row bit table broadcasts, so the "
        "probe side is filtered map-side before its per-key aggregate — "
        "the probe table never shuffles into a semi-join. At 100 TB the "
        "probe scan is the only full pass."
    ),
    "events_heavy_hitters": (
        "Two-pass exact heavy hitters: Misra-Gries candidates from a "
        "mapInPandas stage with O(k) state per task, then the candidate "
        "set broadcasts into a semi-join and only candidate rows reach "
        "the exact recount aggregate. The MG pass and the recount are the "
        "only full passes; both are map-side until their single shuffle."
    ),
    "knn_hard_negatives": (
        "Hard-negative mining: the anchor batch broadcasts onto one "
        "corpus scan (Arrow cosine kernel), per-(anchor,class) top-1 is a "
        "max-over-struct aggregate — no corpus-sized window, no pair "
        "materialization beyond the streamed scored rows."
    ),
    "corpus_curation_pipeline": (
        "The composed materialization decision: decontamination grams, "
        "dup grouping, quality metrics and split assignment all branch "
        "from one tokenized scan; joins are equi/semi on doc_id or gram "
        "hash; the disposition CASE is a pure row expression. One job, "
        "nothing quadratic."
    ),
    "dedup_graph_pagerank": (
        "Iterative centrality: each PageRank round is one equi-join of "
        "the edge list to the |nodes|-row rank frame plus one aggregate "
        "on dst — the Pregel shape, linear in |edges| per round. Integer "
        "micro-unit arithmetic keeps the fixpoint bit-identical across "
        "engines and partitionings."
    ),
    "knn_ivf_indexed": (
        "Persisted IVF: probe cells land in PartitionFilters on the "
        "stored cell-partitioned layout, so unprobed cell directories are "
        "never listed into the scan — per-query I/O ~ nprobe/n_cells of "
        "the corpus. Row-identical to knn_ivf_probe by construction."
    ),
    "text_nb_source_classifier": (
        "In-plan Naive Bayes: priors and Laplace likelihoods are two "
        "grouped aggregates (map-side combinable); class-level tables "
        "broadcast; the (class, token) likelihood join is the only "
        "corpus-sized shuffle and is linear in tokens x n_classes "
        "(classes a small constant). The per-doc argmax window partitions "
        "by doc_id — never a global gather."
    ),
    "chunk_documents": (
        "Max-Min grouping under the exact-arithmetic embedding: sentence "
        "construction is pure array ops (no explode-collect round trip), "
        "the chunker is ONE applyInPandas keyed by document — sequential "
        "inside a doc, embarrassingly parallel across docs, the axis that "
        "grows at 100 TB. The DuckDB oracle re-runs the full recurrence "
        "as a recursive CTE; integer vectors make every cosine "
        "bit-identical across engines."
    ),
    "dedup_containment": (
        "Containment over LSH candidates: the blocking is the banded "
        "self-join (never all-pairs); intersection counts are one "
        "equi-join on (doc, shingle) restricted to candidate pairs, so "
        "work scales with candidate volume x shingles/doc, linear in "
        "the blocked output. Ratios leave in exact BIGINT micro-units."
    ),
    "corpus_ngram_novelty": (
        "First-occurrence novelty: one min() aggregate on the shingle "
        "stream (map-side combinable) + one join back — no self-join, "
        "no window over the corpus. The per-doc fraction is an exact "
        "integer micro-division."
    ),
    "pdf_visual_detect": (
        "Byte-level visual detection: PDF construction and block "
        "extraction are one mapInPandas stage each (parallel across "
        "documents), the detector is a single per-(doc, page) aggregate "
        "over block rects — no window, no join. Candidate sparsity is "
        "the design: everything downstream of this plan (render, "
        "caption) touches only candidate pages."
    ),
    "events_impressions_unattributed": (
        "Left-ANTI interval join (the batch twin of the streaming "
        "left-outer attribution's watermark-expiry emission): Spark plans "
        "a user_id-keyed equi-join with the 30-minute range condition as "
        "a join-level post-filter — one shuffle per side, no theta "
        "cartesian — and the anti form never materializes the matched "
        "fan-out (an impression with 50 in-window clicks contributes 50 "
        "rows to the outer shape, zero here). At 100 TB/day both sides "
        "partition by user; state in the streaming twin is bounded by "
        "watermark + window."
    ),
    "corpus_shuffle_shards": (
        "Reproducible training export: the shuffle key and shard id are "
        "map-side md5/integer math over the scan (no Exchange before the "
        "window), and the ONLY shuffle is hash-partitioning by shard for "
        "the per-shard (pos, offset) window sort. Shard count scales with "
        "corpus bytes (100k+ shards at 100 TB), so each window partition "
        "stays shard-sized — the sort never sees the whole corpus."
    ),
    "embedding_kmeans": (
        "Each Lloyd iteration is: BroadcastNestedLoopJoin of the k x dim "
        "centroid frame (tiny, deliberately broadcast) into a map-side "
        "dot-product scoring pass, a vec_id-keyed window for "
        "nearest-centroid, then one partial+final aggregate keyed "
        "(cluster, dim) to rebuild centroids. The vector table itself is "
        "never shuffled by cluster — the same iteration plan runs "
        "unchanged on 1B vectors."
    ),
    "corpus_perplexity_buckets": (
        "LM build = two partial+final aggregates ((lang, tok), then "
        "lang); doc scoring = one equi-join of the token stream back to "
        "the per-lang vocabulary (token-keyed shuffle, the linear floor "
        "for a token-level scorer) + a per-doc aggregate. The tercile "
        "ntile window partitions by language — exact-contract shape; the "
        "sanctioned 100 TB swap is approx_percentile cutoffs + a "
        "map-side bucket compare."
    ),
    "events_expectations": (
        "Round 9: declarative data-quality rules (plans/expectations). "
        "One scan computes the failed-rule array as a pure column "
        "expression (array_compact over per-rule whens — codegen'd, no "
        "UDF), the quarantine stream is filter + explode on that array, "
        "and the only exchange is the deterministic output sort. The "
        "rule pass itself adds zero shuffles at any corpus size; the "
        "companion metrics frame is a single map-side-combinable "
        "aggregate."
    ),
    "events_zorder_read": (
        "Round 9: a two-dimensional range read against the Morton-"
        "clustered events copy (plans/zorder). The plan is deliberately "
        "boring — Scan parquet with BOTH predicates in PushedFilters and "
        "a 5-column ReadSchema — because the win lives in the LAYOUT: "
        "every file covers a small (user_id, ts) rectangle, so the "
        "pushed min/max stats skip user-disjoint AND time-disjoint row "
        "groups. A single-sort layout prunes only its own sort column "
        "(tests/test_zorder.py holds the side-by-side skipping counts). "
        "At 100 TB this is the difference between scanning one user "
        "stripe and scanning the whole day."
    ),
    "documents_merge_changes": (
        "Round 10: the change data feed. Both snapshot scans carry the "
        "manifest-derived bucket IN-list as a PARTITION filter "
        "(bucket=... dirs pruned before any parquet footer is read), so "
        "the full-outer join is churned-buckets vs churned-buckets — "
        "delta-sized at any table size. Classification is one explode "
        "over an array of change structs built per joined key: no "
        "re-join per change type, no second pass."
    ),
    "webdataset_roundtrip": (
        "Round 13: tar shards as a source. The corpus groups once into "
        "per-source shards (applyInPandas pack), members expand in a "
        "pure map stage (one yielded frame per shard bounds task memory "
        "to a single decompressed shard), and sample assembly is the "
        "ONE exchange — hash on (shard, sample_key) with map-side "
        "combine, since a sample's members are adjacent in their shard "
        "split. At 100 TB the shard is the parallelism grain: millions "
        "of independently-readable tars, no cross-shard coordination "
        "until the caller aggregates."
    ),
    "tpch_q5_local_volume": (
        "Round 14: the canonical join-order showcase. region->nation->"
        "supplier all resolve broadcast-side, customers are PRE-PRUNED "
        "to ASIA nations by a broadcast semi the optimizer cannot infer "
        "across the c_nationkey = s_nationkey constraint, so the two "
        "big shuffles (lineitem><orders, ><customer) carry only "
        "candidate rows. At 100 TB orders/customer shuffle-join on "
        "their keys; the dimension chain stays broadcast at any SF."
    ),
    "text_bpe_merges_batched": (
        "Round 14: batched BPE training. Per sweep: ONE corpus-free "
        "pair-count aggregate over the persisted distinct-word table "
        "(the corpus is scanned once, at the word-count groupBy), a "
        "vocabulary-sized local-maxima selection (windows over symbols, "
        "concat-collision guard over a capped rank pool), and one "
        "chained replace pass. Job waves ~vocab/batch instead of the "
        "sequential trainer's one wave per merge — the difference "
        "between 32k waves and ~1k for a production vocabulary."
    ),
    "corpus_epoch_order": (
        "Round 14: the training-consumer's seeded epoch. TWO exchanges "
        "total: one shard-hash partition SHARED by the archive-index "
        "and rank windows (epoch_keys adds no mid-plan sort, so "
        "Catalyst reuses the partitioning), and the final presentation "
        "range sort with the shard rank leading — output partitions "
        "hold whole shards. The zero-exchange streamed form (the "
        "md5(seed|shard) shard order taken on the driver) is pinned equal "
        "to the in-plan order in tests."
    ),
    "corpus_pack_sequences": (
        "Round 14: concat-and-chunk token packing composed over the BPE "
        "vocabulary and the seeded epoch order. The packing cumsum is a "
        "SHARD-partitioned window (never a global running sum — that "
        "single-task collapse is the scale killer), pack-id expansion "
        "is a Generate over sequence(), and the token counts come from "
        "a vocabulary-sized broadcast join, so the corpus is touched "
        "once, map-only."
    ),
    "documents_cdf_view": (
        "Round 10: the downstream of the feed. The audited read is just "
        "the view's manifest-listed state files; what matters is what "
        "is ABSENT — no scan of the upstream table, because the view "
        "was advanced by folding read_changes output (O(churned "
        "buckets)) into the IVM state (O(touched view buckets)). The "
        "oracle equality with a flat GROUP BY over the merged corpus is "
        "the proof the shortcut is lossless."
    ),
}


def main() -> None:
    from mcp_local_rag_spark.queries import queries
    from mcp_local_rag_spark.session import get_spark

    spark = get_spark("explain-audit")
    qs = queries()
    out = [
        "# PLANS — physical plans of headline queries",
        "",
        "Generated by tools/explain_audit.py (sf0.001 inputs; plan shapes are",
        "scale-invariant modulo AQE's runtime broadcast demotion). The",
        "enforced invariants live in tests/test_plans.py.",
        "",
    ]
    for name, why in COMMENTARY.items():
        df = qs[name](spark, SF_DIR)
        jqe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        text = jqe.explainString(mode)
        # keep the operator tree + scan details, trim the long node list
        tree, _, details = text.partition("\n\n")
        scans = [
            block
            for block in details.split("\n\n")
            if block.strip() and "Scan parquet" in block.strip().splitlines()[0]
        ]
        out += [f"## {name}", "", why, "", "```", tree.strip()]
        for s in scans:
            out += ["", s.strip()]
        out += ["```", ""]
    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    # PLANS.md carries the per-round narrative sections ("## Round ...")
    # AFTER the generated plan dumps — regenerating the dumps must not
    # clobber them (it did once; the narrative had to be restored from git)
    narrative = ""
    marker = "<!-- EXPLAIN-AUDIT:END"
    try:
        with open(path) as f:
            prev = f.read()
        idx = prev.find(marker)
        if idx != -1:
            narrative = "\n" + prev[idx:]
        elif prev.strip():
            raise SystemExit(
                "PLANS.md has no EXPLAIN-AUDIT:END marker — refusing to"
                " overwrite (the hand-written narrative would be lost);"
                " add the marker line above the hand-written sections"
            )
    except FileNotFoundError:
        pass
    with open(path, "w") as f:
        f.write("\n".join(out) + narrative)
    print("wrote PLANS.md" + (" (narrative preserved)" if narrative else ""))


if __name__ == "__main__":
    main()
