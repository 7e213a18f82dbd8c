"""Scaling probe over a 1000x data ladder: sf0.001 -> sf0.01 -> sf0.1 ->
sf~1, where sf~1 is synthesized by unioning sf0.1 ten times with key offsets
(10x the largest provided fixture).

The scale claim ("would still work at 1000 executors reading 100 TB") is an
extrapolation; this gives it a measured foundation: a query whose time is
flat across the ladder (overhead-bound) or grows far slower than data
(scan-bound with fixed parallelism) has no super-linear term waiting at
scale. Each probe is warmed once at every rung, then timed once per rung
(build plus ``.count()``). The derived data is PERF-ONLY — correctness always
runs against the provided fixtures; key offsetting preserves join
cardinalities (each copy's facts join each copy's dims) and text/embedding
distributions (dedup/LSH workloads see 10x corpus with the same duplicate
structure per copy).

Usage: python tools/scale_probe_xl.py [query ...]
  With no names, probes PROBES plus EXTRA_PROBES, adds the SemDeDup
  pair-mass counters, and rewrites SCALING.md up to its first round
  section (``## r<N>``, hand-written notes that are kept). With names,
  probes only those registry queries and prints their table rows.
  SPARK_GRAFT_TESTDATA names the directory holding sf0.001/sf0.01/sf0.1
  (the provided fixtures by default); sf~1 is written once to
  /tmp/spark_graft_sfxl.
"""

from __future__ import annotations

import math
import os
import re
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.session import get_spark

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SRC = f"{TESTDATA}/sf0.1"
DST = "/tmp/spark_graft_sfxl"
LADDER = {"sf0.001": f"{TESTDATA}/sf0.001", "sf0.01": f"{TESTDATA}/sf0.01",
          "sf0.1": SRC, "sf~1": DST}
COPIES = 10

# per-table key columns to offset per copy (others pass through)
OFFSET_KEYS = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
}

PROBES = [
    "pricing_summary",
    "revenue_by_nation",
    "merge_upsert",
    "sessionize",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_capped",
    "dedup_substring_spans",
    "text_encode_ids",
    "quality_filter_pipeline",
    "similarity_brute_topk",
    "global_running_revenue",
    "dedup_tiered_pipeline",
    "dedup_span_removal",
    "dedup_jaccard_prefix_filter",  # provably-lossless candidate restriction
    "text_unigram_surprisal",  # vocab-table join: vocab FIXED as tokens x10
    "text_bigram_lm_score",    # bigram-model join under 10x token mass
    # r5 tranche: sketch state fixed as data grows; covariance explode
    # factor d^2-bounded; weighted median windows over the value domain
    "kmv_cross_source_jaccard",
    "join_size_estimate_cms",
    "grouped_weighted_median",
    "embedding_covariance_topk",
    "ngram_novelty_curve",
    # r5b tranche: model state fixed (DSIR 4096 buckets, HLL 1024
    # registers, bloom m bits); char entropy shuffles 37-symbol
    # histograms; CMS HH pass-2 cost is the documented candidate widening
    "dsir_importance_weights",
    "char_entropy_profile",
    "hll_distinct_by_source",
    "bloom_semijoin_reduction",
    "cms_heavy_hitters_twopass",
    "waiting_supplier_orders",  # multi-stage fact self-analysis (Q21)
    "gopher_quality_rules",     # bigram-hash explode + two-level agg
    "similarity_pq_adc",        # PQ train + ADC scan + rerank
    "dedup_incremental_batch",  # batch-vs-corpus LSH index probe (r2)
    "dedup_semantic_prune",     # SemDeDup cell-local pair prune (r3)
    "bloom_decontaminate",      # Bloom-sketch membership probe (r3)
    "text_bigram_lift",         # bigram/unigram collocation joins (r3)
    "rolling_28d_active_users", # user-day grain x bounded day-spine join (r3)
    "frequent_itemset_pairs",   # basket-bounded pair self-join (r6)
    "skipgram_pairs_subsampled",  # position-keyed window pair join (r6)
    "copurchase_degree_powerlaw",  # distinct edges + degree-grain fit (r6)
    "logistic_regression_irls",  # 4x full-scan IRLS sufficient stats (r6)
    "streaming_sessionize",     # availableNow session_window stream (r6)
]


def _semdedup_centroids(spark, d):
    """sqrt(N) hash-priority centroids over the embeddings at ``d`` —
    shared by the wall-clock probe and the pair-mass counter."""
    from etl_mssql_to_postgres_dailysync_spark.functions.hashing import md5_long

    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    n = emb.count()
    k = max(int(n ** 0.5), 2)
    cents = (
        emb.orderBy(md5_long(F.col("vec_id")), "vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cell_id"), "embedding")
    )
    return emb, cents, n, k


def _semdedup_pair_mass(spark, d) -> tuple[int, int, int]:
    """EXACT candidate-pair mass of the sqrt(N)-centroid SemDeDup run at
    ``d``: sum_c n_c*(n_c-1)/2 over the real cell assignment — the number
    of cosine evaluations the pair join performs (each unordered in-cell
    pair passes the prototypicality filter exactly once). Computed from the
    assignment alone (one groupBy(cell).count), so measuring it never runs
    the join it measures. Returns (N, k, n_pairs_evaluated)."""
    from etl_mssql_to_postgres_dailysync_spark.functions.similarity import semdedup_assign

    emb, cents, n, k = _semdedup_centroids(spark, d)
    sizes = semdedup_assign(emb, cents).groupBy("cell_id").count()
    pairs = sizes.agg(
        F.sum(F.expr("count * (count - 1) div 2")).cast("long").alias("p")
    ).first()["p"]
    return n, k, int(pairs)


def _semdedup_sqrtn(spark, d):
    """SemDeDup at NON-TOY cell geometry: sqrt(N) centroids (the paper's
    typical choice — cell_size ~ sqrt(N)), hash-priority deterministic
    centroid pick, so the candidate-pair mass is O(N * cell_size) =
    O(N^1.5). Expected wall growth over 10x data is therefore ~x10-x32
    (pair mass x31.6), NOT x100 (the all-pairs quadratic this prunes
    away) — the registry query dedup_semantic_prune keeps 8 centroids only
    so its oracle stays enumerable."""
    from etl_mssql_to_postgres_dailysync_spark.functions.similarity import semdedup_prune

    emb, cents, _n, _k = _semdedup_centroids(spark, d)
    return semdedup_prune(emb, cents)


# probes that are not registry queries (parameterized by corpus size, so no
# fixed oracle twin): name -> callable(spark, sf_dir)
EXTRA_PROBES = {
    "semdedup_sqrtN_centroids": _semdedup_sqrtn,
}


def build(spark) -> None:
    if os.path.isdir(DST) and all(
        os.path.exists(f"{DST}/{t}.parquet") for t in OFFSET_KEYS
    ):
        return
    os.makedirs(DST, exist_ok=True)
    for table, keys in OFFSET_KEYS.items():
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        if not keys:
            df.write.mode("overwrite").parquet(f"{DST}/{table}.parquet")
            continue
        # offset stride: one power-of-ten above the largest key in the table
        maxes = df.select(*[F.max(k).alias(k) for k in keys]).first()
        max_key = max(maxes[k] for k in keys)
        stride = 10 ** len(str(int(max_key)))
        copies = df.withColumn(
            "_c", F.explode(F.array(*[F.lit(i) for i in range(COPIES)]))
        )
        for k in keys:
            copies = copies.withColumn(k, F.col(k) + F.col("_c") * F.lit(stride))
        copies.drop("_c").write.mode("overwrite").parquet(f"{DST}/{table}.parquet")


def ladder_row(spark, name: str, run) -> str:
    """Warm ``run`` at every rung, then time one build+count per rung."""
    for d in LADDER.values():
        run(spark, d).count()
    walls = []
    for d in LADDER.values():
        t0 = time.time()
        run(spark, d).count()
        walls.append(time.time() - t0)
    cells = " | ".join(f"{w:.2f}" for w in walls)
    return (f"| {name} | {cells} | x{walls[2] / max(walls[0], 1e-9):.1f} "
            f"| x{walls[3] / max(walls[2], 1e-9):.1f} |")


TABLE_HEAD = [
    "| query | " + " | ".join(f"{k} s" for k in LADDER)
    + " | growth over 100x (sf0.001 -> sf0.1) | growth over 10x (sf0.1 -> sf~1) |",
    "|---|---|---|---|---|---|---|",
]

PROSE = [
    "# SCALING — wall-clock growth across 1000x data (sf0.001 -> sf~1)",
    "",
    "Generated by `python tools/scale_probe_xl.py` on local[{cores}]: warm",
    "runs, one build plus `.count()` per rung. sf~1 is sf0.1 unioned 10x",
    "with offset keys (join cardinality and duplicate structure preserved).",
    "Time growth far below data growth = fixed-overhead/parallelism",
    "headroom; near-linear growth only appears once per-task work dominates",
    "scheduling.",
    "",
    "Caveat: the union makes every document 100% duplicated (10 copies), so",
    "dup-flagging work in dedup_substring_spans / dedup_tiered_pipeline grows",
    "with duplicate mass over the last step (every window flags; every doc",
    "pairs with its 9 copies) — their growth numbers are the",
    "adversarial-corpus bound, not superlinearity in rows.",
    "",
    "semdedup_sqrtN_centroids runs sqrt(N) centroids (45 -> 141 over the",
    "last step), so its pair mass is O(N^1.5): expected growth ~x10-x32 per",
    "10x data, vs x100 for the all-pairs quadratic it replaces.",
    "",
    "dedup_jaccard_prefix_filter's growth over the last step is the WORST",
    "case for prefix filtering: with every doc 100% duplicated, every pair",
    "genuinely qualifies at J>=0.5, so no candidate restriction is possible",
    "(the copies share all prefix tokens) and the number is",
    "duplicate-mass-bound like dedup_substring_spans. Its payoff is on",
    "low-duplication corpora, where rarest-first prefixes shrink the",
    "candidate set provably without the cap heuristic's underestimate",
    "(measured on the sf0.1 fixture at t=0.5: 1,265,779 full-index",
    "candidate pairs -> 430,739 prefix-index = x2.9 reduction, even with",
    "that corpus's own heavy duplication).",
    "",
    "text_unigram_surprisal / text_bigram_lm_score: the 10x union leaves the",
    "vocab and bigram-model tables FIXED (same distinct tokens, counts x10),",
    "so only the token-stream side of the model-apply join grows — the",
    "sub-linear growth over the last step is the scale behavior the",
    "self-trained-LM design predicts at 100 TB (model size ~ vocab, not",
    "corpus).",
    "",
    "streaming_sessionize's sf~1 cell times an empty stream: the query",
    "stages a symlink to events.parquet for its file source, and the",
    "derived sf~1 events.parquet is a directory, which that source does not",
    "read (0 rows at sf~1 vs 95,465 at sf0.1).",
    "",
]


def main() -> None:
    only = sys.argv[1:]
    spark = get_spark(app_name="scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs = e.queries()
    if only:
        runners = {name: qs[name] for name in only}
    else:
        runners = {name: qs[name] for name in PROBES}
        runners.update(EXTRA_PROBES)
    build(spark)
    print("\n".join(TABLE_HEAD))
    rows = []
    for name, run in runners.items():
        rows.append(ladder_row(spark, name, run))
        print(rows[-1], flush=True)
    if only:
        return

    # Empirical pair-mass exponent for the sqrt(N)-centroid SemDeDup probe:
    # wall clock is a proxy, the pair count is the claim. n_pairs_evaluated
    # = sum_c n_c*(n_c-1)/2 over the real cell assignment (exactly the
    # cosine evaluations the pair join performs); exponent = log(pair
    # growth) / log(N growth), predicted 1.5 for cell_size ~ sqrt(N).
    (n0, k0, p0), (n1, k1, p1) = (
        _semdedup_pair_mass(spark, SRC),
        _semdedup_pair_mass(spark, DST),
    )
    expo = math.log(p1 / p0) / math.log(n1 / n0)
    prose = "\n".join(PROSE).format(cores=spark.sparkContext.defaultParallelism)
    lines = [prose] + TABLE_HEAD + rows + [
        "",
        "### SemDeDup pair-mass counters (measured, not wall-clock-inferred)",
        "",
        "| scale | N vectors | sqrt(N) centroids | n_pairs_evaluated |",
        "|---|---|---|---|",
        f"| sf0.1 | {n0} | {k0} | {p0} |",
        f"| sf~1 | {n1} | {k1} | {p1} |",
        "",
        f"Measured pair-growth exponent: log(x{p1 / p0:.1f} pairs) /"
        f" log(x{n1 / n0:.1f} data) = **{expo:.2f}** (predicted 1.5 for"
        " cell_size ~ sqrt(N); all-pairs would be 2.0). The x100-vs-x10"
        " wall question is settled by count, not clock.",
        "",
    ]
    path = os.path.join(_REPO, "SCALING.md")
    with open(path) as f:
        base = f.read()
    notes = re.search(r"^## r\d", base, flags=re.M)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n" + (base[notes.start():] if notes else ""))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
