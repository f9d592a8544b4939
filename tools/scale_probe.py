"""Scaling probe for the heavy pipelines: run each lane at 10x and 100x
the bench scale (corpus tables replicated with make_scaled_sf.py) and
record per-lane scaling exponents alpha = log(t_100x / t_10x) / log(10) —
alpha ~ 1 is linear, alpha ~ 0 is scale-flat. TIMING data only;
correctness always gates on the driver's own sf dirs. Usage:

    python tools/make_scaled_sf.py /root/testdata/sf0.1 <dir10> 10 documents,embeddings
    python tools/make_scaled_sf.py /root/testdata/sf0.1 <dir100> 100 documents,embeddings
    python tools/scale_probe.py <dir10> <dir100> [out.json] [lane ...]

With no lane names every lane in ``QUERIES`` runs. How to read them:
  * dedup lanes: the replica corpus multiplies each duplicate clique by
    the factor, so candidate-pair output grows ~quadratically with
    scale — an output-volume property of the synthetic replication, not
    of the engine. Per-row cost (``us_per_row_*``) is the engine metric.
  * dedup_skew_storm: the storm clique is quadratic BY CONSTRUCTION, so
    the honest signal is ``skew_vs_uniform`` (its wall against
    dedup_minhash_lsh over the same replica), not the absolute.
  * text_bpe_merges_batched trains over the DISTINCT-word table, which
    replication leaves unchanged: near-flat is the correct result.
  * corpus_epoch_* / corpus_pack_* are corpus-sized by nature (every
    sample gets an epoch position / pack slot): read per-row cost.
  * each replica is ONE parquet file, so map-only lanes run 1-2 tasks:
    their absolute walls are single-core throughput.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "hybrid_search_indexed",
    "dedup_minhash_lsh",
    "dedup_minhash_banded",
    "dedup_skew_storm",
    "dedup_jaccard",
    "dedup_clusters",
    "dedup_containment",
    "corpus_decontaminate_fuzzy",
    "corpus_ngram_novelty",
    "text_bpe_merges_batched",
    "text_bpe_encode_deep",
    "corpus_pack_deep_vocab",
    "corpus_epoch_order",
    "corpus_epoch_resume",
    "corpus_pack_sequences",
]
PASSES = 3
PASS_OVERRIDE = {
    ("dedup_skew_storm", "100x"): 1,
    # graph/verify lanes at 100x run minutes-scale pipelines; min-of-2
    # bounds probe wall while keeping a re-run to shave cold-JVM noise
    ("dedup_jaccard", "100x"): 2,
    ("dedup_clusters", "100x"): 2,
    ("dedup_containment", "100x"): 2,
    ("corpus_decontaminate_fuzzy", "100x"): 2,
}
# count() lets Catalyst PRUNE unreferenced projection work — on a pure
# map-only lane like the deep encode, a bare count never evaluates the
# fold and the timing is vacuous. Such lanes force full evaluation
# through a checksum aggregate over their value columns.
FORCE_EVAL = {
    "text_bpe_encode_deep": lambda df: df.selectExpr(
        "count(*) AS n", "sum(n_tokens)"
    ),
}


def time_query(spark, name, fn, sf_dir: str, passes: int = PASSES) -> tuple[float, int]:
    best, n = None, 0
    force = FORCE_EVAL.get(name)
    for _ in range(passes):
        spark.catalog.clearCache()
        t0 = time.time()
        if force:
            n = int(force(fn(spark, sf_dir)).first()["n"])
        else:
            n = fn(spark, sf_dir).count()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3), n


def main(dir10: str, dir100: str, out_path: str | None, names: list[str]) -> None:
    from mcp_local_rag_spark.queries import queries
    from mcp_local_rag_spark.session import get_spark

    spark = get_spark("scale-probe")
    spark.range(1000).selectExpr("sum(id)").collect()
    qs = queries()

    result: dict = {"metric": "scale_probe", "unit": "sec", "queries": {}}
    for name in names:
        t10, n10 = time_query(
            spark, name, qs[name], dir10,
            PASS_OVERRIDE.get((name, "10x"), PASSES),
        )
        t100, n100 = time_query(
            spark, name, qs[name], dir100,
            PASS_OVERRIDE.get((name, "100x"), PASSES),
        )
        alpha = math.log(t100 / t10) / math.log(10.0)
        entry = {
            "t_10x_sec": t10,
            "t_100x_sec": t100,
            "ratio": round(t100 / t10, 3),
            "exponent": round(alpha, 3),
            "rows_10x": n10,
            "rows_100x": n100,
        }
        if n100:
            entry["us_per_row_10x"] = round(t10 / max(n10, 1) * 1e6, 3)
            entry["us_per_row_100x"] = round(t100 / n100 * 1e6, 3)
        result["queries"][name] = entry
        print(
            f"# {name}: 10x {t10}s ({n10} rows)  100x {t100}s ({n100} rows)"
            f"  exponent {entry['exponent']}",
            file=sys.stderr,
        )

    q = result["queries"]
    if "dedup_skew_storm" in q and "dedup_minhash_lsh" in q:
        result["skew_vs_uniform"] = {
            "wall_ratio_10x": round(
                q["dedup_skew_storm"]["t_10x_sec"]
                / q["dedup_minhash_lsh"]["t_10x_sec"], 3,
            ),
            "wall_ratio_100x": round(
                q["dedup_skew_storm"]["t_100x_sec"]
                / q["dedup_minhash_lsh"]["t_100x_sec"], 3,
            ),
        }
    line = json.dumps(result)
    print(line)
    if out_path:
        with open(out_path, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    args = sys.argv[3:]
    out = args.pop(0) if args and args[0].endswith(".json") else None
    main(sys.argv[1], sys.argv[2], out, args or QUERIES)
