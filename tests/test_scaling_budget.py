"""Growth-exponent ratchet (round 9, r8 verdict ask #4): SCALING.md's
measured 10x tables, encoded as an executable budget.

Opt-in (SPARK_GRAFT_SCALING=1): builds the derived sf~1 fixture (sf0.1
unioned 10x with offset keys — tools/scale_probe_xl.build, the top rung of
the scaling probe's sf0.001 -> sf~1 ladder and the same data every
SCALING.md sf~1 row used), measures each budgeted query warm at sf0.1 and
sf~1, and asserts the wall-clock growth over the 10x step stays under
its documented bound. A regression to super-linear behavior (a lost
localCheckpoint, a broadcast that silently became a shuffle join, a new
accidental quadratic) goes red HERE instead of surfacing as prose drift in
SCALING.md next audit.

Budgets are the SCALING.md r7/r8 measured growth rows x ~1.5 measurement
headroom (warm single-host walls carry +-20-30% session noise; the point is
catching x10-when-documented-x2, not re-litigating x2.2 vs x2.6). The
DEFAULT budget is x4.5; entries above it are the documented pair-mass /
data-grain cases with their own written caps (see the SCALING.md caveats:
the 10x union makes every doc 100% duplicated, so duplicate-mass-bound
queries measure their adversarial-corpus bound here, not superlinearity).

Tiny-wall guard: growth ratios over sub-second walls are timer noise — a
breach only counts when the sf~1 wall also exceeds 1.0 s.

test_gate_detects_quadratic is the instrument's red-case demonstration: a
deliberately quadratic all-pairs join must BREACH the default budget at a
10x corpus step — proving the measurement would flag a real quadratic.
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

if os.environ.get("SPARK_GRAFT_SCALING") != "1":
    pytest.skip(
        "scaling-budget ratchet is opt-in: set SPARK_GRAFT_SCALING=1 "
        "(builds a 10x derived fixture and measures ~25 heavy queries)",
        allow_module_level=True,
    )

from pyspark.sql import functions as F  # noqa: E402

from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES  # noqa: E402

DEFAULT_BUDGET = 4.5

# query -> max allowed wall growth over the 10x step. Sources: SCALING.md
# "r8: measured sf~1 rows" and "r7: xl posture" tables (measured x1.0-x3.1
# rows get the default; the named entries carry their documented caps).
BUDGETS = {
    # r8 measured tranche
    "logrank_test_survival": DEFAULT_BUDGET,
    "nelson_aalen_hazard": DEFAULT_BUDGET,
    "kruskal_wallis_h": DEFAULT_BUDGET,
    "welch_ttest_spend": DEFAULT_BUDGET,
    "js_divergence_sources": DEFAULT_BUDGET,
    "cmh_stratified_test": DEFAULT_BUDGET,
    "t_closeness_audit": DEFAULT_BUDGET,
    "cohens_kappa_raters": DEFAULT_BUDGET,
    "ar2_yule_walker_forecast": DEFAULT_BUDGET,
    "textrank_keywords": DEFAULT_BUDGET,
    "misra_gries_heavy_hitters": DEFAULT_BUDGET,
    "pr_auc_average_precision": DEFAULT_BUDGET,
    "friedman_test_blocks": DEFAULT_BUDGET,
    "mmd_rbf_two_sample": DEFAULT_BUDGET,
    "mcnemar_paired_raters": DEFAULT_BUDGET,
    "page_trend_test": DEFAULT_BUDGET,
    "dunn_posthoc_nations": DEFAULT_BUDGET,
    # documented pair-mass / data-grain caps (SCALING.md caveats)
    "item_item_cosine_knn": 8.5,    # measured x5.4, per-copy basket pair mass
    "conformal_interval": 12.0,     # measured x8.2, data-grain global rank
    "conformal_interval_sketch": 9.0,  # measured x6.0, three data passes
    # r7 xl table
    "ipf_raking_weights": DEFAULT_BUDGET,      # measured x0.8
    "adaboost_stumps": DEFAULT_BUDGET,         # measured x2.7
    "pca_power_iteration": DEFAULT_BUDGET,     # measured x1.6
    "bm25_prf_expansion": DEFAULT_BUDGET,      # measured x1.7
    "graph_k_core_peel": 5.0,                  # measured x3.1, edge-mass-bound
}


@pytest.fixture(scope="module")
def xl_dirs(spark):
    import scale_probe_xl as xl

    xl.build(spark)
    return xl.SRC, xl.DST


def _warm_wall(spark, name: str, sf_dir: str) -> float:
    QUERIES[name](spark, sf_dir).count()  # warm-up: cache, codegen, workers
    walls = []
    for _ in range(2):
        t0 = time.time()
        QUERIES[name](spark, sf_dir).count()
        walls.append(time.time() - t0)
    return min(walls)


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_growth_within_budget(spark, xl_dirs, name):
    src, dst = xl_dirs
    base = _warm_wall(spark, name, src)
    big = _warm_wall(spark, name, dst)
    growth = big / max(base, 0.05)
    budget = BUDGETS[name]
    assert growth <= budget or big <= 1.0, (
        f"{name}: sf0.1 {base:.2f}s -> sf~1 {big:.2f}s = x{growth:.1f} "
        f"exceeds the documented budget x{budget} (SCALING.md) — a plan "
        "regression (lost checkpoint / broadcast->shuffle / new quadratic)?"
    )


def test_gate_detects_quadratic(spark, xl_dirs):
    """Red-case demonstration: a deliberate all-pairs quadratic breaches the
    default budget at a 10x corpus step, so the instrument can see the
    failure mode it guards against."""
    src, dst = xl_dirs

    def all_pairs_wall(d: str) -> float:
        docs = spark.read.parquet(f"{d}/documents.parquet").select(
            "doc_id", F.length("text").alias("len")
        )
        a = docs.select(F.col("doc_id").alias("ia"), F.col("len").alias("la"))
        b = docs.select(F.col("doc_id").alias("ib"), F.col("len").alias("lb"))
        q = (
            a.crossJoin(b)
            .filter(F.col("ia") < F.col("ib"))
            .agg(F.sum(F.col("la") * F.col("lb")).alias("s"))
        )
        q.count()  # warm
        t0 = time.time()
        q.count()
        return time.time() - t0

    base, big = all_pairs_wall(src), all_pairs_wall(dst)
    growth = big / max(base, 0.05)
    assert growth > DEFAULT_BUDGET and big > 1.0, (
        f"quadratic probe grew only x{growth:.1f} ({base:.2f}s -> {big:.2f}s)"
        " — the 10x step is too small for the gate to separate quadratic"
        " from linear growth; increase COPIES or the probe's work per pair"
    )
