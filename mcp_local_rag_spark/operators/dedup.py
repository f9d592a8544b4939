"""Deduplication operators for large-scale training-data pipelines.

Not in the reference's surface (it has U1-U5 key-level dedup only — see
operators for those in queries/relational.py); these are the corpus-scale
extensions: exact hashing, MinHash+LSH banding, SimHash, n-gram Jaccard.

Scale posture (100 TB): everything is linear in corpus size — shingle
explode -> per-(doc, seed) min -> band keys -> self-join on band buckets.
The only quadratic step (exact Jaccard) runs on LSH candidate pairs, never
all pairs. All hashing is md5 of deterministic strings so results are
engine-independent (the duckdb oracle reproduces them bit-for-bit;
lexicographic MIN over hex digests is a valid min-hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import tokens

N_HASHES = 16
BAND_SIZE = 4

# MinHash affine family over the Mersenne prime 2^31-1: sig_i = min over
# shingles of (A[i]*h + B[i]) mod P, where h is a 60-bit integer from the
# shingle's md5. ONE md5 per shingle + integer math per hash — vs 16 md5s —
# keeps the whole signature build inside whole-stage codegen, and the same
# arithmetic is reproducible bit-for-bit in the DuckDB oracle.
P_MINHASH = 2_147_483_647
MINHASH_A = [
    7, 13, 31, 101, 257, 1031, 4099, 16411,
    65537, 262147, 1048583, 4194319, 16777259, 67108879, 268435459, 1073741827,
]
MINHASH_B = [
    3, 17, 53, 211, 523, 2081, 8219, 32771,
    131101, 524309, 2097169, 8388617, 33554467, 134217757, 536870923, 2147483629,
]


def exact_duplicates(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: group by content hash; emit groups with >1 member."""
    h = docs.select(F.col(id_col), F.md5(text_col).alias("content_hash"))
    return (
        h.groupBy("content_hash")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("representative"))
        .filter(F.col("dup_count") > 1)
    )


def shingle_sets(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-shingles per document: (id, shingle).

    Exactly ``shingle_stream`` (the single map-only construction both
    consumers share — tokenize, explode starts, concat_ws(slice), all
    codegen'd built-ins) plus the distinct, which is the first (and only
    pre-aggregation) shuffle. Use this where exact SET semantics matter
    (Jaccard intersections, containment, novelty); duplicate-insensitive
    consumers (MinHash) take the stream directly.
    """
    return shingle_stream(docs, id_col=id_col, text_col=text_col, k=k).distinct()


def shingle_stream(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text", k: int = 3
) -> DataFrame:
    """NON-distinct word k-shingles per document — ``shingle_sets`` minus
    the ``.distinct()``, which makes it fully MAP-ONLY (zero shuffles).

    Valid wherever the consumer is duplicate-insensitive: MinHash takes a
    per-(doc, seed) MIN, so a shingle appearing five times yields the
    same signature as once. For the signature build this removes the
    (id, shingle) distinct — the single largest shuffle in the LSH
    pipeline (it moves the whole exploded shingle stream); the following
    ``groupBy(id)`` then partial-aggregates map-side, so the only shuffle
    left carries ~one row per document. Measured on the 100x sf0.1
    replica: 14.0 s -> 11.2 s end-to-end, 10x->100x exponent 0.52 ->
    0.46, identical pair set. Use ``shingle_sets`` when exact SET
    semantics matter (Jaccard intersections, containment, novelty).
    """
    toks = tokens(F.col(text_col))
    d = docs.select(F.col(id_col), toks.alias("_toks")).filter(F.size("_toks") >= k)
    return d.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(1), F.size("_toks") - (k - 1))).alias("_i"),
        "_toks",
    ).select(
        F.col(id_col),
        F.concat_ws(" ", F.slice("_toks", F.col("_i"), k)).alias("shingle"),
    )


def minhash_signatures_docs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Document texts -> MinHash signatures with ONE shuffle total (the
    map-side-combined ``groupBy(id)``): the preferred signature build
    when the caller does not otherwise need the distinct shingle table."""
    return minhash_signatures(
        shingle_stream(docs, id_col=id_col, text_col=text_col, k=k),
        id_col=id_col,
        n_hashes=n_hashes,
    )


def shingle_hash(shingle) -> F.Column:
    """60-bit integer from a shingle's md5, reduced mod P (both engines:
    Spark conv(hex,16,10); DuckDB ('0x'||hex)::BIGINT — verified identical)."""
    return (
        F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % P_MINHASH
    )


def minhash_signatures(
    shingles: DataFrame, *, id_col: str = "doc_id", n_hashes: int = N_HASHES
) -> DataFrame:
    """Wide signature row per doc: (id, sig0..sig{n-1}).

    Single groupBy with n min-aggregates — no row fan-out, no extra shuffle
    beyond the one keyed by doc id.
    """
    if n_hashes > len(MINHASH_A):
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the fixed affine hash family "
            f"({len(MINHASH_A)} functions; extend MINHASH_A/MINHASH_B to go wider)"
        )
    base = shingles.select(F.col(id_col), shingle_hash(F.col("shingle")).alias("h"))
    aggs = [
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % P_MINHASH).alias(
            f"sig{i}"
        )
        for i in range(n_hashes)
    ]
    return base.groupBy(id_col).agg(*aggs)


def band_keys(
    sigs: DataFrame, *, id_col: str = "doc_id", band_size: int = BAND_SIZE
) -> DataFrame:
    """Long-format (id, band, band_key): band_key = md5 of the band's sigs."""
    n_sigs = sum(1 for c in sigs.columns if c.startswith("sig"))
    n_bands = n_sigs // band_size
    keys = [
        F.md5(
            F.concat_ws(
                "|",
                *[F.col(f"sig{b * band_size + j}").cast("string") for j in range(band_size)],
            )
        ).alias(f"bk{b}")
        for b in range(n_bands)
    ]
    wide = sigs.select(F.col(id_col), *keys)
    stack = ", ".join(f"{b}, bk{b}" for b in range(n_bands))
    return wide.selectExpr(id_col, f"stack({n_bands}, {stack}) as (band, band_key)")


def lsh_candidate_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    band_size: int = BAND_SIZE,
    materialize: bool = True,
    bucket_cap: int = 128,
) -> DataFrame:
    """Distinct candidate pairs (id1 < id2) sharing any band bucket.

    The pair join is an equi-join on (band, band_key) — bucket-local at
    scale. An OVERSIZED bucket (a boilerplate/mega-duplicate band key
    shared by thousands of documents) would land its whole quadratic
    self-join in one task; buckets past ``bucket_cap`` members are
    SALTED: the left side hashes each member to one of ceil(n/cap)
    salts, the right side replicates to every salt, so the bucket's
    pair work spreads across ~n/cap tasks while the produced pair set
    is EXACTLY the unsalted one (pytest + DuckDB-oracle pinned). The
    hot-bucket list is tiny by construction (count aggregate, then a
    broadcast join), so cold buckets — the overwhelming majority — pay
    one broadcast-hash probe and no extra shuffle.

    ``materialize`` persists the band table before the self-join: both
    join sides (and Spark's plan for each) otherwise re-run the whole
    shingle→minhash→band pipeline — measured as two extra full
    aggregations. In production the band table is a persisted artifact
    anyway (plans/dedup_index.write_band_index).
    """
    bands = band_keys(sigs, id_col=id_col, band_size=band_size)
    if materialize:
        bands = bands.persist()
    # hot-bucket census: one map-side-combinable count over the (persisted)
    # bands, collected driver-side — the hot list is oversized buckets
    # ONLY, so its cardinality is tiny by construction. The common case
    # (no bucket past the cap) then runs the EXACT unsalted plan: the
    # census job is the entire overhead.
    hot_rows = (
        bands.groupBy("band", "band_key")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > bucket_cap)
        .limit(100_000)  # defensive bound; a list this size means the
        .collect()       # band scheme itself is wrong, not the salt plan
    )
    a = bands.select(F.col(id_col).alias("id1"), "band", "band_key")
    b = bands.select(F.col(id_col).alias("id2"), "band", "band_key")
    if not hot_rows:
        return (
            a.join(b, ["band", "band_key"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2")
            .distinct()
        )
    spark = bands.sparkSession
    hot = F.broadcast(
        spark.createDataFrame(
            [
                (r["band"], r["band_key"], int(-(-r["_n"] // bucket_cap)))
                for r in hot_rows
            ],
            "band int, band_key string, _nsalt int",
        )
    )
    salted = bands.join(hot, ["band", "band_key"], "left")
    a = salted.select(
        F.col(id_col).alias("id1"),
        "band",
        "band_key",
        F.coalesce(
            F.pmod(F.xxhash64(F.col(id_col)), F.col("_nsalt")).cast("int"),
            F.lit(0),
        ).alias("_salt"),
    )
    b = salted.select(
        F.col(id_col).alias("id2"),
        "band",
        "band_key",
        F.explode(
            F.sequence(F.lit(0), F.coalesce(F.col("_nsalt") - 1, F.lit(0)))
        ).alias("_salt"),
    )
    return (
        a.join(b, ["band", "band_key", "_salt"])
        .filter(F.col("id1") < F.col("id2"))
        .select("id1", "id2")
        .distinct()
    )


def minhash_jaccard_estimate(
    pairs: DataFrame,
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Signature-agreement Jaccard ESTIMATE per candidate pair: the
    fraction of the n MinHash components on which the two documents
    agree — the classic estimator (E[est] = J, variance J(1-J)/n).

    This is the verification tier that never touches shingles again:
    two equi-joins against the narrow signature table and an O(n)
    column expression per pair — O(pairs * n) total, vs the exact
    verify's O(pairs * shingles) set intersection. At
    100 TB the exact verify re-joins the exploded shingle stream twice;
    this reads 16 longs per side. Exactness contract: matches/16 is a
    1/16 multiple, exactly representable in binary floating point, so
    the division is bit-identical across engines with no float round.
    """
    a_cols = [F.col(f"sig{i}").alias(f"_a{i}") for i in range(n_hashes)]
    b_cols = [F.col(f"sig{i}").alias(f"_b{i}") for i in range(n_hashes)]
    s1 = sigs.select(F.col(id_col).alias("id1"), *a_cols)
    s2 = sigs.select(F.col(id_col).alias("id2"), *b_cols)
    matches = None
    for i in range(n_hashes):
        term = (F.col(f"_a{i}") == F.col(f"_b{i}")).cast("int")
        matches = term if matches is None else matches + term
    return (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .select(
            "id1",
            "id2",
            (matches.cast("double") / F.lit(float(n_hashes))).alias("est_jaccard"),
        )
    )


def incremental_candidate_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """LSH candidate pairs touching at least one NEW document — the
    incremental production shape: the corpus signature table is computed
    ONCE and persisted (a parquet artifact, like the FTS postings); an
    arriving batch signs + bands map-only and band-joins against the
    stored bands plus itself. The corpus is never re-shingled or
    re-signed, so per-batch cost scales with the batch, not the corpus.

    Returns (id1, id2) with id1 < id2, exactly the subset of the full
    ``lsh_candidate_pairs`` output where either side is new (signatures
    are deterministic, so incremental and full runs agree row-for-row).
    """
    new_bands = band_keys(new_sigs, id_col=id_col, band_size=band_size).persist()
    new_bands.count()
    all_bands = band_keys(corpus_sigs, id_col=id_col, band_size=band_size).unionByName(
        new_bands
    )
    a = new_bands.select(F.col(id_col).alias("_na"), "band", "band_key")
    b = all_bands.select(F.col(id_col).alias("_ob"), "band", "band_key")
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("_na") != F.col("_ob"))
        .select(
            F.least("_na", "_ob").alias("id1"),
            F.greatest("_na", "_ob").alias("id2"),
        )
        .distinct()
    )
    return pairs


def jaccard_verify_sets(
    pairs: DataFrame,
    sets_: DataFrame,
    *,
    id_col: str = "doc_id",
    set_col: str = "_sh",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs over PRE-PACKED sets:
    (id, set_col array) rows, one per document (``doc_profiles`` / a
    ``collect_set`` of distinct shingles); keep pairs >= threshold.

    |A ∩ B| is a per-pair ``array_intersect`` after two narrow id joins,
    never a pair-expanded (id2, shingle) join plus a re-aggregate: packed
    arrays move strictly fewer bytes and the intersection is a linear
    hash-set pass. Integer counts and round(x, 6) keep scores bit-for-bit
    equal to the exploded-join form (pytest-pinned); ``c >= 1`` drops
    zero-intersection pairs for any threshold, as an inner join would."""
    s1 = sets_.select(F.col(id_col).alias("id1"), F.col(set_col).alias("_sh1"))
    s2 = sets_.select(F.col(id_col).alias("id2"), F.col(set_col).alias("_sh2"))
    c = F.size(F.array_intersect("_sh1", "_sh2"))
    n1, n2 = F.size("_sh1"), F.size("_sh2")
    jac = (
        pairs.join(s1, "id1")
        .join(s2, "id2")
        .withColumn("c", c)
        .filter(F.col("c") >= 1)
        .withColumn(
            "jaccard",
            F.round(F.col("c").cast("double") / (n1 + n2 - F.col("c")), 6),
        )
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id1", "id2", "jaccard")


def doc_profiles(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """Packed per-doc dedup profile in ONE shuffle: (id, _sh, sig0..sig{n-1}).

    The verify-tier lanes need BOTH the distinct shingle set (packed, for
    ``jaccard_verify_sets``' array_intersect) and the MinHash signature
    per document. Built separately that is THREE shuffles of the exploded
    shingle stream (the ``shingle_sets`` distinct, then two ``groupBy(id)``
    aggregates); here ``collect_set`` performs the dedup itself and the
    affine mins are duplicate-insensitive, so one map-side-combined
    ``groupBy(id)`` over the NON-distinct ``shingle_stream`` produces both
    at once (guide §2.3/§2.4 — aggregate before you shuffle, remove
    shuffles outright). The persisted frame is one row per document
    instead of the exploded stream, so the lane cache is smaller too.
    Downstream: ``lsh_candidate_pairs``/``band_keys`` read the sig*
    columns and ignore ``_sh``; ``jaccard_verify_sets`` reads (id, _sh).
    """
    if n_hashes > len(MINHASH_A):
        raise ValueError(
            f"n_hashes={n_hashes} exceeds the fixed affine hash family "
            f"({len(MINHASH_A)} functions; extend MINHASH_A/MINHASH_B to go wider)"
        )
    stream = shingle_stream(docs, id_col=id_col, text_col=text_col, k=k)
    base = stream.select(
        F.col(id_col), "shingle", shingle_hash(F.col("shingle")).alias("h")
    )
    aggs = [F.collect_set("shingle").alias("_sh")] + [
        F.min((F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i])) % P_MINHASH).alias(
            f"sig{i}"
        )
        for i in range(n_hashes)
    ]
    return base.groupBy(id_col).agg(*aggs)


# ---------------------------------------------------------------------------
# SimHash: 32-bit signature from unigram term frequencies. The bit math is
# generated as SQL expression text so the Spark and DuckDB sides share one
# generator (dialect differences: instr vs strpos, integer division). The
# 8 hex digits of the token hash are projected ONCE as columns; each bit is
# then two integer ops — keeps the generated code small enough for
# whole-stage codegen (a per-bit strpos chain was compile-time-bound).

SIMHASH_BITS = 32


def digit_exprs(dialect: str) -> list[str]:
    """d0..d7: value of each hex digit of column h (md5 prefix)."""
    pos_fn = {"spark": "instr", "duckdb": "strpos"}[dialect]
    return [
        f"({pos_fn}('0123456789abcdef', substring(h, {i + 1}, 1)) - 1)"
        for i in range(SIMHASH_BITS // 4)
    ]


def bit_sum_exprs(dialect: str) -> list[str]:
    """s0..s31 aggregate expressions over (tf, d0..d7): signed tf sums."""
    intdiv = "div" if dialect == "spark" else "//"
    out = []
    for j in range(SIMHASH_BITS):
        shift = 2 ** (j % 4)
        bit = f"((d{j // 4} {intdiv} {shift}) % 2)"
        out.append(f"sum(tf * (2 * {bit} - 1))")
    return out


def assemble_expr() -> str:
    """simhash BIGINT from the s0..s31 sums (same text both dialects)."""
    return " + ".join(
        f"CAST((CASE WHEN s{j} > 0 THEN {2**j} ELSE 0 END) AS BIGINT)"
        for j in range(SIMHASH_BITS)
    )


def simhash(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, simhash): 32-bit simhash over unigram tf weights."""
    tf = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("tf"))
        .withColumn("h", F.md5("tok"))
    )
    digits = tf.select(
        F.col(id_col),
        "tf",
        *[F.expr(e).alias(f"d{i}") for i, e in enumerate(digit_exprs("spark"))],
    )
    sums = digits.groupBy(id_col).agg(
        *[F.expr(e).alias(f"s{j}") for j, e in enumerate(bit_sum_exprs("spark"))]
    )
    return sums.select(F.col(id_col), F.expr(assemble_expr()).alias("simhash"))


def hamming_distance(a, b):
    """Hamming distance between two simhash BIGINT columns (JVM-side)."""
    x = a.bitwiseXOR(b)
    return F.bit_count(x)


def simhash_near_pairs(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, WITHOUT the
    all-pairs join: pigeonhole band blocking. With ``n_bands`` disjoint
    bit-bands and ``max_hamming < n_bands``, any qualifying pair has at
    least one band with ZERO differing bits — so an equi-join on
    (band, band value) produces a candidate superset and the exact
    ``bit_count(xor)`` check filters it. Same blocked-equi-join scale
    shape as MinHash LSH (hot bands split by AQE); the quadratic work is
    confined to per-band buckets.

    Returns (id1 < id2, hamming <= max_hamming).
    """
    assert max_hamming < n_bands, "pigeonhole guarantee needs n_bands > max_hamming"
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = sigs.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select(F.col(id_col), "simhash", "_b.band", "_b.bv")
    a = bands.select(
        F.col(id_col).alias("id1"), F.col("simhash").alias("_s1"), "band", "bv"
    )
    b = bands.select(
        F.col(id_col).alias("id2"), F.col("simhash").alias("_s2"), "band", "bv"
    )
    return (
        a.join(b, ["band", "bv"])
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1", "id2", hamming_distance(F.col("_s1"), F.col("_s2")).alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its STRICTLY LARGER
    neighbors to the minimum of its neighborhood (including itself)."""
    nbrs = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
    return (
        nbrs.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient each edge max->min; every node connects
    its smaller neighbors (and itself) to its minimum smaller neighbor."""
    oriented = edges.select(
        F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    return (
        oriented.join(mins, "u")
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .unionByName(mins.select(F.col("u").alias("a"), F.col("m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    *,
    id1_col: str = "id1",
    id2_col: str = "id2",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
    stats: dict | None = None,
) -> DataFrame:
    """Duplicate-group clustering: connected components over a pair list,
    labeling every member with the component's MINIMUM id.

    (id1, id2) pairs (e.g. Jaccard-verified LSH candidates) -> (id, label).

    Two execution strategies behind one signature:

    * small graphs: ONE job collects up to ``driver_threshold + 1`` pairs
      (limit-collect — no separate count pre-pass); if the limit isn't hit,
      union-find on the driver finishes in microseconds. The verified-
      duplicate graph is EDGES of the corpus graph, typically orders of
      magnitude smaller than the corpus itself — distributed rounds would
      spend seconds of scheduling per round labeling a few thousand nodes.
    * larger graphs: alternating large-star/small-star (Kiveris et al.,
      "Connected Components in MapReduce and Beyond", SoCC'14) — converges
      in O(log n) rounds even on adversarial chain-shaped graphs, where
      plain min-label propagation needs O(diameter) rounds. Each round is
      one keyed aggregate + one equi-join; nothing is ever quadratic.

    Raises RuntimeError if ``max_iter`` rounds pass without convergence
    (2*ceil(log2 n) + 4 suffices in practice; never silently mislabels).
    ``stats`` (optional dict) receives {"strategy", "rounds"} for tests.
    """
    head = pairs.select(id1_col, id2_col).limit(driver_threshold + 1).collect()
    if len(head) <= driver_threshold:
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in head:
            a, b = r[id1_col], r[id2_col]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN so the representative is the component min
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(x, find(x)) for x in parent]
        if stats is not None:
            stats.update(strategy="driver_union_find", rounds=0)
        schema_src = pairs.schema[id1_col].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            out, f"id {schema_src}, label {schema_src}"
        )

    nodes = (
        pairs.select(F.col(id1_col).alias("id"))
        .unionByName(pairs.select(F.col(id2_col).alias("id")))
        .distinct()
        .persist()
    )
    # localCheckpoint per round truncates lineage — without it the plan
    # tree nests one whole round per iteration and the driver dies
    # re-stringifying it long before the data is a problem (the same
    # pattern GraphX/Pregel uses for iterative convergence).
    edges = (
        pairs.select(F.col(id1_col).alias("a"), F.col(id2_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    converged = False
    for _ in range(max_iter):
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        rounds += 1
        # converged when the star forest is stable: every edge already
        # points at the neighborhood min, so the round is a fixpoint
        # (both sides are distinct sets, so two one-sided excepts suffice)
        changed = (not new_edges.exceptAll(edges).isEmpty()) or (
            not edges.exceptAll(new_edges).isEmpty()
        )
        edges = new_edges
        if not changed:
            converged = True
            break
    if not converged:
        nodes.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large-star/small-star rounds; raise max_iter"
        )
    # fixpoint edge set is (member -> component min) stars; singletons
    # (self-pairs only) label themselves
    labels = (
        nodes.join(edges, nodes["id"] == edges["a"], "left")
        .select("id", F.coalesce(F.col("b"), F.col("id")).alias("label"))
        .groupBy("id")
        .agg(F.min("label").alias("label"))
        # eager checkpoint materializes labels NOW so the cached inputs can
        # be released before returning — otherwise `nodes` plus every
        # round's checkpointed edge RDD stays pinned in executor storage
        # for the rest of the session
        .localCheckpoint(eager=True)
    )
    nodes.unpersist()
    if stats is not None:
        stats.update(strategy="star_contraction", rounds=rounds)
    return labels


def integer_pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    iters: int = 3,
    id_col: str = "id",
) -> DataFrame:
    """PageRank in integer micro-units — bit-identical on every engine.

    (nodes[id], edges[src,dst]) -> (id, rank) after ``iters`` Pregel-style
    rounds: contribution = rank // out_degree (integer floor division),
    new rank = 150000 + (85 * incoming) // 100 (damping 0.85 in exact
    integer arithmetic, initial rank 1_000_000). No float appears anywhere,
    so partitioning/summation order cannot perturb the fixpoint — the same
    recurrence in SQL (// division) reproduces it exactly. Dangling mass is
    not redistributed (teleport-only nodes hold 150000); fine for
    centrality ranking, not for probability-normalized scores.

    Cost per round: one equi-join of edges to the |nodes|-row rank frame +
    one aggregate on dst — linear in |edges|, never corpus-quadratic.

    Iteration hygiene (same discipline as ``connected_components``):
    the edges⋈degree join is loop-INVARIANT, so it is computed once and
    persisted instead of re-joined every round; the node frame feeds
    every round's left join (and r0) from one persisted copy instead of
    re-running its upstream scan+distinct per round; and each round's
    rank frame is ``localCheckpoint``ed — without that the final plan
    nests every previous round (the r15 before-plan was 7,499 lines /
    540 Exchange occurrences for 3 rounds over 734 edges, mostly
    re-planned cached subtrees), and at real depth the optimizer, not
    the data, becomes the bottleneck. localCheckpoint trades fault
    tolerance for lineage truncation (a lost executor fails the job
    instead of recomputing); production at 100 TB would use reliable
    ``checkpoint()`` to shared storage at the same points.

    ``eager=False``: the Catalyst plan is truncated at construction
    either way (the checkpointed frame is a LogicalRDD immediately);
    lazy materialization keeps the whole recursion inside the CALLER'S
    single action instead of running one driver job per round — on this
    container's degraded phases each extra driver action costs a full
    job-submission floor (observed 5 s p95), and eager rounds paid it
    iters+2 times.
    """
    cb = (
        edges.join(edges.groupBy("src").agg(F.count("*").alias("deg")), "src")
        .select("src", "dst", "deg")
        .persist()
    )
    base = nodes.select(F.col(id_col).alias("id")).persist()
    ranks = base.withColumn("rank", F.lit(1_000_000).cast("long"))
    for _ in range(iters):
        contrib = cb.join(ranks, cb.src == ranks.id).select(
            F.col("dst").alias("id"), F.expr("rank div deg").alias("c")
        )
        inc = contrib.groupBy("id").agg(F.sum("c").alias("inc"))
        ranks = (
            base.join(inc, "id", "left")
            .select(
                "id",
                (F.lit(150_000) + F.expr("(85 * coalesce(inc, 0L)) div 100"))
                .cast("long")
                .alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    # cb/base stay persisted: the lazy checkpoints materialize inside the
    # caller's first action, which still needs them (house style — query-
    # internal persists live until the session cache is cleared).
    return ranks
