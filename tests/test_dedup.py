import pytest
from pyspark.sql import functions as F

from mcp_local_rag_spark.operators import dedup


def _docs(spark):
    text_a = "the quick brown fox jumps over the lazy dog again and again"
    text_b = "completely different words about spark dataframes and shuffles here"
    return spark.createDataFrame(
        [(1, text_a), (2, text_a), (3, text_b)], "doc_id long, text string"
    )


def test_exact_duplicates(spark):
    out = dedup.exact_duplicates(_docs(spark)).collect()
    assert len(out) == 1
    assert out[0].dup_count == 2 and out[0].representative == 1


def test_minhash_lsh_finds_identical_pair(spark):
    shingles = dedup.shingle_sets(_docs(spark))
    sigs = dedup.minhash_signatures(shingles)
    pairs = dedup.lsh_candidate_pairs(sigs).collect()
    assert (1, 2) in {(r.id1, r.id2) for r in pairs}


def test_jaccard_verify_scores_identical_as_one(spark):
    shingles = dedup.shingle_sets(_docs(spark)).persist()
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(shingles))
    sets_ = shingles.groupBy("doc_id").agg(F.collect_set("shingle").alias("_sh"))
    out = dedup.jaccard_verify_sets(pairs, sets_, threshold=0.5).collect()
    exact = [r for r in out if (r.id1, r.id2) == (1, 2)]
    assert exact and exact[0].jaccard == 1.0


def test_doc_profiles_matches_separate_builds(spark):
    """The one-shuffle doc_profiles frame must equal the pieces built
    separately: _sh == shingle_sets packed (set equality), sig* ==
    minhash_signatures over the distinct sets (minhash over the raw
    stream must be identical — min() is duplicate-insensitive)."""
    texts = [
        (1, "alpha beta gamma delta epsilon zeta alpha beta gamma"),  # dup shingles
        (2, "one two three four five"),
        (3, "alpha beta gamma alpha beta gamma"),  # heavy repetition
        (4, "too short"),  # below k tokens: no shingles at all
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    prof = {r["doc_id"]: r for r in dedup.doc_profiles(docs).collect()}

    sh = dedup.shingle_sets(docs).persist()
    want_sets = {
        r["doc_id"]: set(r["s"])
        for r in sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s")).collect()
    }
    want_sigs = {r["doc_id"]: r for r in dedup.minhash_signatures(sh).collect()}
    sh.unpersist()

    assert set(prof) == set(want_sets)
    for did, row in prof.items():
        assert set(row["_sh"]) == want_sets[did], did
        for i in range(dedup.N_HASHES):
            assert row[f"sig{i}"] == want_sigs[did][f"sig{i}"], (did, i)


def test_jaccard_verify_array_form_matches_join_form(spark):
    """The r16 array_intersect form must reproduce the exploded-join form
    bit-for-bit — including partial overlaps, zero-intersection candidate
    pairs (dropped even at threshold 0, the old inner join's semantics),
    and pairs whose doc has no shingles row."""
    from pyspark.sql import functions as F

    texts = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),   # high overlap with 1
        (3, "one two three four five six seven"),     # no overlap with 1/2
        (4, "alpha beta gamma nine ten eleven"),      # partial overlap
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    shingles = dedup.shingle_sets(docs).persist()
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 4), (2, 5)],  # (2,5): id2 absent
        "id1 long, id2 long",
    )

    def join_form(pairs, shingles, threshold):
        sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
        s1 = shingles.select(F.col("doc_id").alias("id1"), "shingle")
        s2 = shingles.select(F.col("doc_id").alias("id2"), "shingle")
        inter = (
            pairs.join(s1, "id1").join(s2, ["id2", "shingle"])
            .groupBy("id1", "id2").agg(F.count("*").alias("c"))
        )
        jac = (
            inter.join(sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1")), "id1")
            .join(sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2")), "id2")
            .withColumn("jaccard", F.round(F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c")), 6))
        )
        return jac.filter(F.col("jaccard") >= threshold).select("id1", "id2", "jaccard")

    sets_ = shingles.groupBy("doc_id").agg(F.collect_set("shingle").alias("_sh"))
    for thr in (0.0, 0.2, 0.7):
        got = {tuple(r) for r in dedup.jaccard_verify_sets(pairs, sets_, threshold=thr).collect()}
        want = {tuple(r) for r in join_form(pairs, shingles, thr).collect()}
        assert got == want, (thr, got, want)
    shingles.unpersist()


def test_simhash_identical_docs_equal_signatures(spark):
    out = {r.doc_id: r.simhash for r in dedup.simhash(_docs(spark)).collect()}
    assert out[1] == out[2]
    assert out[1] != out[3]
    assert dedup.hamming_distance(F.lit(out[1]), F.lit(out[3])) is not None


def test_hamming_distance(spark):
    row = spark.range(1).select(
        dedup.hamming_distance(F.lit(0b1011), F.lit(0b0010)).alias("d")
    ).first()
    assert row.d == 2


def test_connected_components_chain_and_islands(spark):
    """A 4-node chain converges to one min-label component (needs multi-round
    propagation); a separate pair stays its own component. Both execution
    strategies (driver union-find, distributed propagation) must agree."""
    from mcp_local_rag_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (100, 200)], "id1 long, id2 long"
    )
    expected = {10: 10, 20: 10, 30: 10, 40: 10, 100: 100, 200: 100}
    via_driver = {r.id: r.label for r in connected_components(pairs).collect()}
    assert via_driver == expected
    via_dist = {
        r.id: r.label
        for r in connected_components(pairs, driver_threshold=0).collect()
    }
    assert via_dist == expected


def test_connected_components_chain_log_rounds(spark):
    """Adversarial chain graph: alternating large-star/small-star (Kiveris
    et al., SoCC'14) converges in O(log n) rounds where min-label
    propagation needs O(n) — the scale guarantee for long duplicate chains
    (shingled boilerplate drift)."""
    import math

    n = 256
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id1 long, id2 long"
    )
    stats = {}
    labels = {
        r.id: r.label
        for r in dedup.connected_components(
            pairs, driver_threshold=0, stats=stats
        ).collect()
    }
    assert labels == {i: 0 for i in range(n + 1)}
    assert stats["strategy"] == "star_contraction"
    assert stats["rounds"] <= math.ceil(math.log2(n)) + 4


def test_connected_components_direction_agnostic(spark):
    from mcp_local_rag_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(5, 1), (2, 5)], "id1 long, id2 long")
    labels = {r.id: r.label for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 5: 1}


def test_incremental_lsh_matches_full_run(spark):
    """Incremental candidates (new batch vs persisted corpus signatures)
    are exactly the full run's pairs restricted to pairs touching a new
    doc — deterministic signatures guarantee agreement, the contract that
    lets the signature table be a build-once artifact."""
    from mcp_local_rag_spark.operators.dedup import (
        incremental_candidate_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_sets,
    )

    base = (
        "spark shuffles data between executors and broadcast joins avoid "
        "that data movement across the cluster entirely today"
    )
    rows = []
    for i in range(12):
        # groups of 3 near-identical docs -> plenty of LSH collisions
        rows.append((i, base + f" variant group {i // 3}"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    full = {
        (r.id1, r.id2)
        for r in lsh_candidate_pairs(
            minhash_signatures(shingle_sets(docs))
        ).collect()
    }
    new_ids = {0, 4, 8}
    new = docs.filter(docs.doc_id.isin(list(new_ids)))
    old = docs.filter(~docs.doc_id.isin(list(new_ids)))
    inc = {
        (r.id1, r.id2)
        for r in incremental_candidate_pairs(
            minhash_signatures(shingle_sets(new)),
            minhash_signatures(shingle_sets(old)),
        ).collect()
    }
    expected = {(a, b) for a, b in full if a in new_ids or b in new_ids}
    assert inc == expected and len(expected) > 0


def test_integer_pagerank_star_hub_wins_and_is_partition_stable(spark):
    """Star graph: the hub must outrank every leaf; isolated nodes keep the
    teleport-only rank; and the integer recurrence is identical under
    different partitionings."""
    from pyspark.sql import functions as F

    from mcp_local_rag_spark.operators.dedup import integer_pagerank

    leaves = list(range(1, 9))
    und = [(0, l) for l in leaves] + [(l, 0) for l in leaves]
    edges = spark.createDataFrame(und, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(10)], "id long")  # 9 = isolated

    out = {r.id: r.rank for r in integer_pagerank(nodes, edges, iters=3).collect()}
    assert out[9] == 150_000                      # isolated: teleport only
    assert all(out[0] > out[l] for l in leaves)   # hub dominates
    assert len(set(out[l] for l in leaves)) == 1  # symmetric leaves tie exactly

    out2 = {
        r.id: r.rank
        for r in integer_pagerank(
            nodes.repartition(7), edges.repartition(5), iters=3
        ).collect()
    }
    assert out == out2


def test_triangle_count_on_known_graph(spark, tmp_path):
    """Hand-built corpus: one 3-clique of near-copies (exactly 1
    triangle) plus a pairwise chain that closes no triangle."""
    import os

    from mcp_local_rag_spark.queries.ext import q_dedup_graph_triangles

    base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(20))
    chain_a = " ".join(f"w{i}" for i in range(40))
    rows = [
        # 3-clique: three near-identical docs
        (1, base + " tail one"),
        (2, base + " tail two"),
        (3, base + " tail three"),
        # isolated doc, no pairs
        (4, " ".join(f"solo{i}" for i in range(40))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # write a documents.parquet the query loader accepts
    p = os.path.join(str(tmp_path), "documents.parquet")
    docs.selectExpr(
        "doc_id", "text", "'en' as lang", "'s' as source",
        "cast(length(text) as long) as n_chars",
    ).coalesce(1).write.parquet(p)
    out = q_dedup_graph_triangles(spark, str(tmp_path)).first()
    assert out.n_triangles == 1
    assert out.n_edges == 3  # the clique's three edges
    assert out.max_degree == 2


def test_salted_lsh_pairs_identical_to_unsalted(spark):
    """Oversized-bucket salting (operators/dedup.lsh_candidate_pairs
    bucket_cap) must produce EXACTLY the unsalted pair set: a 40-member
    mega-cluster with cap=8 exercises multi-salt splitting, replicated
    right side, and the cold-bucket coalesce path side by side."""
    from mcp_local_rag_spark.operators import dedup

    mega = " ".join(f"common{i} words{i} here{i}" for i in range(25))
    rows = [(i, mega + f" tail{i % 2}") for i in range(40)]  # near-identical
    rows += [(100 + i, " ".join(f"solo{i}_{j}" for j in range(30))) for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dedup.minhash_signatures(dedup.shingle_sets(docs)).persist()
    sigs.count()
    salted = {
        (r.id1, r.id2)
        for r in dedup.lsh_candidate_pairs(sigs, bucket_cap=8).collect()
    }
    unsalted = {
        (r.id1, r.id2)
        for r in dedup.lsh_candidate_pairs(sigs, bucket_cap=10**9).collect()
    }
    sigs.unpersist()
    assert salted == unsalted
    assert len(salted) >= 40 * 39 // 2  # the mega-cluster's full clique


def test_banded_index_pairs_identical_to_join_path(spark, tmp_path):
    """plans/dedup_index.write_band_index + banded_candidate_pairs (the
    grouped, band-bucketed layout) must produce EXACTLY the pair set of
    the end-to-end lsh_candidate_pairs join — across both plans: grouped
    small buckets and the salted hot-bucket fallback (cap=8 forces a
    40-member mega-cluster through it)."""
    from mcp_local_rag_spark.operators import dedup
    from mcp_local_rag_spark.plans.dedup_index import (
        banded_candidate_pairs,
        write_band_index,
    )

    mega = " ".join(f"common{i} words{i} here{i}" for i in range(25))
    rows = [(i, mega + f" tail{i % 2}") for i in range(40)]
    rows += [(100 + i, " ".join(f"solo{i}_{j}" for j in range(30))) for i in range(5)]
    rows += [(200, rows[0][1]), (201, rows[41][1])]  # exact dup of each kind
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {
        (r.id1, r.id2)
        for r in dedup.lsh_candidate_pairs(
            dedup.minhash_signatures_docs(docs)
        ).collect()
    }
    path = str(tmp_path / "bands")
    write_band_index(docs, path, n_buckets=4)
    # all FOUR routes: {grouped JVM expansion, equi-join expansion
    # (pair_volume_cap=0 forces the high-volume strategy)} x {with and
    # without the salted hot-bucket fallback (cap=8 forces a 40-member
    # mega-cluster through it)} — identical pair sets
    for cap in (8, 128):
        for pv_cap in (0, 2_000_000):
            got = {
                (r.id1, r.id2)
                for r in banded_candidate_pairs(
                    spark, path, bucket_cap=cap, pair_volume_cap=pv_cap
                ).collect()
            }
            assert got == want, f"cap={cap} pv_cap={pv_cap}"


@pytest.mark.slow
def test_banded_routes_agree_on_random_corpora(spark, tmp_path):
    """Randomized route-parity fuzz: on seeded random corpora (mixed
    duplicate cliques, near-dups, singletons) every strategy combination
    of banded_candidate_pairs — {JVM array expansion, equi-join
    expansion} x {with, without the salted hot-bucket path} — returns
    exactly lsh_candidate_pairs' set. Deterministic seeds, bounded
    corpus sizes (a hypothesis-style sweep without per-example Spark
    session churn)."""
    import random

    from mcp_local_rag_spark.operators import dedup
    from mcp_local_rag_spark.plans.dedup_index import (
        banded_candidate_pairs,
        write_band_index,
    )

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        rows, next_id = [], 0
        vocab = [f"w{seed}_{i}" for i in range(60)]
        # duplicate cliques of random sizes, with light mutation
        for clique in range(rng.randint(2, 5)):
            base = " ".join(rng.choices(vocab, k=40))
            for member in range(rng.randint(2, 12)):
                text = base
                if rng.random() < 0.3:  # near-dup: perturb one word
                    ws = text.split()
                    ws[rng.randrange(len(ws))] = f"mut{next_id}"
                    text = " ".join(ws)
                rows.append((next_id, text))
                next_id += 1
        for _ in range(rng.randint(3, 10)):  # singletons
            rows.append(
                (next_id, " ".join(f"solo{next_id}_{j}" for j in range(25)))
            )
            next_id += 1
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        want = {
            (r.id1, r.id2)
            for r in dedup.lsh_candidate_pairs(
                dedup.minhash_signatures_docs(docs)
            ).collect()
        }
        path = str(tmp_path / f"fuzz_bands_{seed}")
        write_band_index(docs, path, n_buckets=4)
        for cap in (3, 128):
            for pv_cap in (0, 10_000_000):
                got = {
                    (r.id1, r.id2)
                    for r in banded_candidate_pairs(
                        spark, path, bucket_cap=cap, pair_volume_cap=pv_cap
                    ).collect()
                }
                assert got == want, (seed, cap, pv_cap)
        # the beyond-enumeration FALLBACK (more oversized keys than the
        # salted path can hold driver-side): hot_enum_cap=0 forces the
        # complete whole-table equi-join route — same pair set
        got = {
            (r.id1, r.id2)
            for r in banded_candidate_pairs(
                spark, path, bucket_cap=3, hot_enum_cap=0
            ).collect()
        }
        assert got == want, (seed, "fallback")


# -- staleness contract (operators/staleness over the dedup index, r14) -----


def _staleness_docs(spark, n=30, tag=""):
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit(f"shared shingle prose {tag} body number "),
            (F.col("id") % 5).cast("string"),
            F.lit(" with enough repeated words to band together nicely"),
        ).alias("text"),
    )


def test_dedup_index_staleness_contract(spark, tmp_path):
    """Mirror of test_vector_serve's freshness cases for the band index:
    matching at_source serves; a lagging covers-stamp raises
    StaleServingError; stale_ok serves as-of; an unstamped legacy index
    carries no proof and never raises."""
    import pytest as _pytest

    from mcp_local_rag_spark.operators.staleness import StaleServingError
    from mcp_local_rag_spark.plans.dedup_index import (
        banded_candidate_pairs,
        index_stamp,
        write_band_index,
    )

    path = str(tmp_path / "bands")
    write_band_index(_staleness_docs(spark), path, covers="gen-1")
    assert index_stamp(path) == ("gen-1", False)
    fresh = {
        (r.id1, r.id2)
        for r in banded_candidate_pairs(spark, path, at_source="gen-1").collect()
    }
    assert fresh  # the fixture bands together

    # the source moves on; the index provably lags it
    with _pytest.raises(StaleServingError, match="stale"):
        banded_candidate_pairs(spark, path, at_source="gen-2")
    # stale_ok: serve as-of the index's own stamp
    asof = {
        (r.id1, r.id2)
        for r in banded_candidate_pairs(
            spark, path, at_source="gen-2", stale_ok=True
        ).collect()
    }
    assert asof == fresh
    # no at_source -> no verdict (caller brought no freshness claim)
    assert {
        (r.id1, r.id2) for r in banded_candidate_pairs(spark, path).collect()
    } == fresh

    # legacy index: no stamp, no proof, no verdict even with at_source
    legacy = str(tmp_path / "legacy_bands")
    write_band_index(_staleness_docs(spark), legacy)
    assert index_stamp(legacy) == (None, False)
    assert {
        (r.id1, r.id2)
        for r in banded_candidate_pairs(
            spark, legacy, at_source="whatever"
        ).collect()
    } == fresh


def test_dedup_index_mid_rebuild_reads_fail_loudly(spark, tmp_path, monkeypatch):
    """A torn overwrite rebuild (crash between the refreshing marker and
    the stamp) must fail every read — a mid-rebuild band table can mix
    generations — until a completed rebuild clears the marker; stale_ok
    is the explicit escape hatch."""
    import pytest as _pytest

    from mcp_local_rag_spark.operators.staleness import StaleServingError
    from mcp_local_rag_spark.plans import dedup_index as di

    path = str(tmp_path / "bands")
    di.write_band_index(_staleness_docs(spark), path, covers="gen-1")

    # tear the rebuild: marker lands, data write crashes
    def _boom(*a, **k):
        raise RuntimeError("injected crash mid-rebuild")

    monkeypatch.setattr(di, "_stamp_index", _boom)
    with _pytest.raises(RuntimeError, match="injected"):
        di.write_band_index(_staleness_docs(spark, tag="v2"), path, covers="gen-2")
    monkeypatch.undo()

    assert di.index_stamp(path)[1] is True  # refreshing flag survives
    with _pytest.raises(StaleServingError, match="mid-rebuild"):
        di.banded_candidate_pairs(spark, path)
    with _pytest.raises(StaleServingError, match="mid-rebuild"):
        di.banded_candidate_pairs(spark, path, at_source="gen-2")
    # explicit escape hatch still reads
    assert di.banded_candidate_pairs(spark, path, stale_ok=True).count() >= 0

    # a completed rebuild clears the marker and serves the new generation
    di.write_band_index(_staleness_docs(spark, tag="v2"), path, covers="gen-2")
    assert di.index_stamp(path) == ("gen-2", False)
    assert di.banded_candidate_pairs(spark, path, at_source="gen-2").count() > 0


def test_dedup_rebuild_without_covers_clears_stale_stamp(spark, tmp_path):
    """r14 review: an overwrite rebuild with covers=None must CLEAR the
    previous stamp — inheriting it would let at_source reads treat a
    gen-2-built index as proof of gen-1 coverage."""
    from mcp_local_rag_spark.plans.dedup_index import (
        banded_candidate_pairs,
        index_stamp,
        write_band_index,
    )

    path = str(tmp_path / "bands")
    write_band_index(_staleness_docs(spark), path, covers="gen-1")
    assert index_stamp(path) == ("gen-1", False)
    write_band_index(_staleness_docs(spark, tag="v2"), path)  # no covers
    assert index_stamp(path) == (None, False)
    # unstamped again: no proof, no verdict — at_source passes silently
    assert banded_candidate_pairs(spark, path, at_source="gen-1").count() >= 0
    # and the layout's REAL bucket count is what the meta records
    from mcp_local_rag_spark.plans.ingest import table_n_buckets

    assert table_n_buckets(path) == 16


def test_boilerplate_storm_salting_bounds_the_straggler(spark):
    """VERDICT r14 item 4: the adversarial-skew fixture — a license
    header planted verbatim into 4% of the REAL corpus (plus 4%
    near-identical variants), the storm that puts every band key of the
    header into one mega-bucket. Pins both halves of the salting
    contract on that fixture:

      * EXACTNESS — the salted pair set equals the unsalted oracle's;
      * STRAGGLER BOUND — reconstructing the salted join's left-side
        groups with the operator's own salt assignment, the largest
        group is ~bucket_cap, not storm-size: the mega-bucket's
        quadratic work spreads across ~n/cap tasks instead of one."""
    from mcp_local_rag_spark.queries.ext import _skew_corpus

    # sf0.1: the storm is 200 documents — big enough that the salt-group
    # distribution concentrates and the straggler ratio is meaningful
    # (at sf0.001 the 20-member storm over 3 salts can legitimately land
    # 14 in one group)
    cap = 8
    docs = _skew_corpus(spark, "/root/testdata/sf0.1")
    sigs = dedup.minhash_signatures_docs(docs).persist()
    sigs.count()
    salted = {
        (r.id1, r.id2)
        for r in dedup.lsh_candidate_pairs(sigs, bucket_cap=cap).collect()
    }
    unsalted = {
        (r.id1, r.id2)
        for r in dedup.lsh_candidate_pairs(sigs, bucket_cap=10**9).collect()
    }
    assert salted == unsalted
    # the identical-header storm is a full clique in the candidate set
    storm = [
        r.doc_id
        for r in docs.filter(F.col("doc_id") % 25 == 0)
        .select("doc_id").collect()
    ]
    n_storm = len(storm)
    assert n_storm >= 20
    assert all(
        (a, b) in salted
        for i, a in enumerate(sorted(storm))
        for b in sorted(storm)[i + 1:]
    )

    # straggler bound: replicate the operator's own salt assignment over
    # the hot buckets and measure the largest left-side group
    bands = dedup.band_keys(sigs).persist()
    hot = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > cap)
        .collect()
    )
    assert hot, "the storm must actually overflow the cap"
    assert max(r["n"] for r in hot) >= n_storm  # mega-bucket is real
    hot_df = spark.createDataFrame(
        [(r["band"], r["band_key"], int(-(-r["n"] // cap))) for r in hot],
        "band int, band_key string, _nsalt int",
    )
    groups = (
        bands.join(F.broadcast(hot_df), ["band", "band_key"])
        .select(
            "band", "band_key",
            F.pmod(F.xxhash64("doc_id"), F.col("_nsalt"))
            .cast("int").alias("_salt"),
        )
        .groupBy("band", "band_key", "_salt")
        .agg(F.count("*").alias("g"))
        .agg(F.max("g").alias("mx"))
        .first()
    )
    sigs.unpersist()
    bands.unpersist()
    # hash unevenness tolerance: the largest salted group must stay
    # within a small factor of the cap — and far under the storm size
    assert groups["mx"] <= 4 * cap, groups["mx"]
    assert groups["mx"] * 2 < n_storm
