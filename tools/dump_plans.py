"""Dump physical plans to PLANS.md: a curated showcase + a full-registry index.

The scale contract isn't just "the result matches" — it's "the plan is the
one you'd want at 100 TB": filters pushed into scans, pruned read schemas,
broadcast dims, map-side partial aggregation, semi/anti joins instead of
nested loops. tests/test_plans.py asserts showcase properties and
tests/test_plan_sweep.py gates every registry plan; this tool makes them
inspectable:

* SHOWCASE — formatted plans with a one-line scale-property note.
* Full-registry plan index — EVERY ``queries()`` entry with a physical-plan
  fingerprint (scans / shuffles / broadcasts / joins / windows / aggregates),
  so the showcase can never again lag the registry (r5 verdict ask #4).

Usage:
  python tools/dump_plans.py [sf_dir]   # regenerate PLANS.md (builds all plans)
  python tools/dump_plans.py --check    # no Spark: verify PLANS.md covers the
                                        # whole registry (pre-commit mode)
  SPARK_GRAFT_SF_DIR=<sf_dir> python tools/dump_plans.py --explain <out_dir> <tag> QUERY...
      # write each query's formatted plan, built at <sf_dir>, to
      # <out_dir>/<QUERY>_<tag>.txt: the before/after evidence files that
      # plan claims are checked against
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_mssql_to_postgres_dailysync_spark.session import get_spark  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PLANS_MD = os.path.join(REPO, "PLANS.md")

SHOWCASE = {
    "daily_partition_extract": "sargable date range -> PushedFilters + pruned ReadSchema",
    "pricing_summary": "partial_ HashAggregate before the exchange (map-side combine)",
    "local_supplier_volume": "star join: dims broadcast, fact never shuffles for them",
    "order_priority_count": "EXISTS as LeftSemi hash join with non-equi residual",
    "customer_order_distribution": "fact pre-aggregated BEFORE the outer join",
    "supplier_part_variety": "NOT IN as broadcast LeftAnti; dims broadcast",
    "merge_upsert": "MERGE as one full-outer join, single shuffle per side",
    "dedup_minhash_lsh": "signatures fold shuffle-free; join only on (band, band_hash)",
    "grouping_sets_revenue": "four grouping sets in ONE Expand + aggregate",
    "similarity_ann_ivf_trained": "cell-local search after broadcast cell assignment",
    "revenue_forecast": "Q6 pure scan-agg: every predicate pushed, one 1-row shuffle",
    "min_cost_supplier": "Q2 decorrelated: argmin join-back, all dims broadcast",
    "scd2_temporal_join": "point-in-time join: equi hash join + interval residual",
    "rolling_revenue_7d": "day-grain RANGE frame after pre-aggregation",
    "similarity_quantized_topk": "int8 candidate sweep then exact re-rank on top-20",
    "waiting_supplier_orders": "Q21: (order,supplier)-grain collapse before join-back",
    "gopher_quality_rules": "bigram hashes shuffle (never text); two partial aggs",
    "decontamination_overlap": "eval shingle-set broadcast probe; corpus unshuffled",
    "quality_filter_pipeline": "score+dedup fused: ONE exchange, min-struct rep",
    "similarity_pq_adc": "ADC scan shuffle-free; exchanges only for the two top-k windows",
    "dedup_substring_spans": "window hashes shuffle (8-byte longs, never text); islands merge per doc",
    "dedup_incremental_batch": "batch band rows probe the corpus index; no corpus self-join",
    "text_encode_ids": "encode pass is ONE project over the scan: vocab as map literal, zero joins",
    "global_running_revenue": "global cumsum WITHOUT a single-partition window: range exchange + per-partition windows",
    "similarity_ann_lsh": "heap-generated probe masks (Arrow UDF, query side only); corpus equi-joins on bucket — no mask join",
    "exact_percentiles": "exact percentiles by two-phase global rank: range exchange + pid-partitioned window + 5-row broadcast rank spine",
    "equidepth_histogram": "exact ntile WITHOUT a single-partition window (distributed global_ntile)",
    "join_skew_audit": "heavy-hitter audit: rank/share windows run over the key-grain aggregate only",
    "text_bigram_lm_score": "self-trained bigram LM: model tables built and applied via token-keyed equi-joins + 1-row vocab scalar; partial aggs before every exchange",
    "embedding_covariance_topk": "d^2/2 pair products generated JVM-side per row (no self-join, no UDF); partial agg bounds the shuffle to d^2 rows per task; top-k window over the 2016-row aggregate",
    "join_size_estimate_cms": "join-size pre-flight: two d*w-bounded sketches, per-seed inner products, 1-row scalar arms — neither fact table ever shuffles",
    "grouped_weighted_median": "weight pre-aggregated to (group, value) grain with map-side combine BEFORE the cumulative window — the window sees the value domain, never data rows",
    "kmv_cross_source_jaccard": "mergeable KMV union: k-row-per-source state, pairwise arms over source-grain aggregates only",
    "ngram_novelty_curve": "shingle-keyed min + join-back; decile via distributed global_ntile — no data-grain global window",
    "dsir_importance_weights": "TWO corpus passes: one conditional-sum groupBy builds both hashed-unigram models; apply is a B-row equi-join + 1-row scalar",
    "hll_distinct_by_source": "HLL registers from ONE md5 per row; per-group state is m=1024 rows at any corpus size",
    "bloom_semijoin_reduction": "m-bit filter broadcast to the fact side; exact/bloom membership counted in one pass over fact keys",
    "cms_heavy_hitters_twopass": "sketch->verify: d*w sketch pass, then exact count ONLY of the semi-join-reduced candidates",
    # r5 final-tranche operators (the four the r5 PLANS refresh missed)
    "hll_incremental_daily": "per-day HLL checkpoint: register grid is days*m rows; cumulative max windows partition by bucket (1024 short series, never data-grain)",
    "dedup_survivorship_by_source": "only (hash, id) pairs shuffle; per-source kept/dropped from one fingerprint-grain aggregate, conservation asserted by tests",
    "sessionize_gap_sensitivity": "three gap thresholds ride ONE user-partitioned window pass as an exploded literal — no per-gap re-shuffle of events",
    "zorder_pruning_audit": "Morton-interleave vs time layout: zone-map pruning decided from file-grain min/max metadata rows, data files never re-read",
}

_FP_NODES = [
    ("scans", r"Scan parquet|FileScan|BatchScan|Scan ExistingRDD|Scan JDBCRelation"),
    ("shuffles", r"Exchange (hash|range)partitioning|Exchange SinglePartition"),
    ("bcasts", r"BroadcastExchange"),
    (
        "joins",
        r"SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct",
    ),
    ("windows", r"\bWindow\b|WindowExec|RunningWindowFunction"),
    ("aggs", r"HashAggregate|SortAggregate|ObjectHashAggregate"),
]


def fingerprint(plan: str) -> dict[str, int]:
    return {label: len(re.findall(rx, plan)) for label, rx in _FP_NODES}


def check() -> int:
    """No-Spark coverage check: every registry query must appear in the
    PLANS.md index, and every SHOWCASE entry must have its section."""
    from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

    text = open(PLANS_MD).read()
    indexed = set(re.findall(r"^\| `([a-z0-9_]+)` \|", text, flags=re.M))
    missing_idx = sorted(set(QUERIES) - indexed)
    stale_idx = sorted(indexed - set(QUERIES))
    missing_show = sorted(
        n for n in SHOWCASE if f"## {n}\n" not in text
    )
    problems = []
    if missing_idx:
        problems.append(f"registry queries missing from index: {missing_idx}")
    if stale_idx:
        problems.append(f"index rows for queries no longer registered: {stale_idx}")
    if missing_show:
        problems.append(f"showcase sections missing: {missing_show}")
    if problems:
        for p in problems:
            print(f"PLANS.md STALE: {p}")
        print("run: python tools/dump_plans.py")
        return 1
    print(f"PLANS.md covers all {len(QUERIES)} registry queries")
    return 0


def _explain(df, mode: str) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _spark():
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def explain(out_dir: str, tag: str, names: list[str]) -> int:
    from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    os.makedirs(out_dir, exist_ok=True)
    spark = _spark()
    for name in names:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(_explain(QUERIES[name](spark, sf_dir), "formatted"))
        print(path)
    return 0


def main() -> int:
    args = sys.argv[1:]
    if "--check" in args:
        return check()
    if args[:1] == ["--explain"]:
        if len(args) < 3:
            raise SystemExit(__doc__)
        return explain(args[1], args[2], args[3:])
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = _spark()
    from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

    out = [
        "# PLANS — physical plans: curated showcase + full-registry index",
        "",
        f"Generated by `python tools/dump_plans.py {sf_dir}`. Each showcase plan",
        "is the Catalyst/AQE physical plan the engine actually executes; the",
        "one-line note states the scale property the plan must (and does)",
        "exhibit, enforced by tests/test_plans.py. The index below fingerprints",
        "EVERY registry query's physical plan; `python tools/dump_plans.py",
        "--check` (pre-commit) fails if a registered query is missing here.",
        "",
        "## Full-registry plan index",
        "",
        "Node counts from the executed physical plan at sf0.001 (AQE initial",
        "plan). `joins` spans hash/merge/nested-loop; nested loops and global",
        "windows are separately gated by tests/test_plan_sweep.py.",
        "",
        "| query | scans | shuffles | bcasts | joins | windows | aggs |",
        "|---|---|---|---|---|---|---|",
    ]
    plans: dict[str, str] = {}
    for name in QUERIES:
        df = QUERIES[name](spark, sf_dir)
        plans[name] = _explain(df, "formatted")
        # fingerprint the SIMPLE tree (formatted mode lists every node twice:
        # once in the tree, once in the numbered detail section)
        fp = fingerprint(_explain(df, "simple"))
        out.append(
            f"| `{name}` | {fp['scans']} | {fp['shuffles']} | {fp['bcasts']} "
            f"| {fp['joins']} | {fp['windows']} | {fp['aggs']} |"
        )
    out.append("")
    for name, note in SHOWCASE.items():
        out += [f"## {name}", "", f"*{note}*", "", "```",
                plans[name].rstrip(), "```", ""]
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(out))
    print(
        f"wrote PLANS.md ({len(QUERIES)}-query index, {len(SHOWCASE)} showcased)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
