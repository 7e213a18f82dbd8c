"""Focused guards for the r11 optimization-round rewrites.

Round 11 restructured several query internals for performance (driver-side
bounded boosting in adaboost_stumps, key-grain CMS builds in
join_size_estimate_cms, the histogram-rank exact arm in hdr_quantile_sketch,
fused audit tallies in the dedup_lsh_audit pair, the NULL-parity filters on
the basket-array family). Results are oracle-gated elsewhere (standing
check_correctness + degenerate gates, incl. the new null_basket_keys kind);
these tests pin the structural equivalences the rewrites rest on, on tiny
in-memory data so the whole module stays seconds."""

from __future__ import annotations

import os
import sys

from pyspark.sql import Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_mssql_to_postgres_dailysync_spark.functions import dedup, sketches


def test_cms_build_from_counts_equals_cms_build(spark):
    """The key-grain weighted CMS build must produce bit-identical
    (seed, bucket, counter) rows to the row-grain build — including the
    NULL-key bucket — because join_size_estimate_cms's estimate arms now
    ride it."""
    rows = [(k,) for k in [1, 1, 1, 2, 2, 7, 7, 7, 7, 99, None, None]]
    df = spark.createDataFrame(rows, "k bigint")
    direct = {
        (r["seed"], r["bucket"]): r["counter"]
        for r in sketches.cms_build(df, "k").collect()
    }
    counts = df.groupBy("k").agg(F.count(F.lit(1)).alias("n"))
    weighted = {
        (r["seed"], r["bucket"]): r["counter"]
        for r in sketches.cms_build_from_counts(counts, "k", "n").collect()
    }
    assert direct == weighted and direct  # same sketch, non-trivial


def test_fused_full_outer_tally_equals_three_arm_counts(spark):
    """dedup_lsh_audit's fused tally: for two pair sets DISTINCT at
    (id_a, id_b), the full-outer conditional counts equal the separate
    |cand|, |truth|, |truth JOIN cand| aggregates."""
    cand_rows = [(1, 2), (1, 3), (2, 5), (4, 9)]
    truth_rows = [(1, 2), (2, 5), (3, 7)]
    cand = spark.createDataFrame(cand_rows, "id_a int, id_b int").withColumn(
        "in_c", F.lit(1)
    )
    truth = spark.createDataFrame(truth_rows, "id_a int, id_b int").withColumn(
        "in_t", F.lit(1)
    )
    row = (
        truth.join(cand, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("in_c").alias("n_candidates"),
            F.count("in_t").alias("n_truth"),
            F.count(
                F.when(F.col("in_c").isNotNull() & F.col("in_t").isNotNull(), 1)
            ).alias("n_hits"),
        )
        .collect()[0]
    )
    assert (row["n_candidates"], row["n_truth"], row["n_hits"]) == (4, 3, 2)


def test_hdr_histogram_rank_equals_row_number_rank(spark):
    """hdr_quantile_sketch's exact arm: min value whose cumulative count
    reaches rank r equals the value at global row_number r (ties share the
    value), for every ceil-rank the query uses."""
    vals = [5, 5, 5, 9, 12, 12, 40, 41, 41, 41, 100]
    df = spark.createDataFrame([(v,) for v in vals], "cents bigint")
    total = len(vals)
    h = df.groupBy("cents").agg(F.count(F.lit(1)).alias("n_rows"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    hc = h.withColumn("cum", F.sum("n_rows").over(wc))
    svals = sorted(vals)
    for pct in (50, 90, 95, 99):
        r = (pct * total + 99) // 100
        got = (
            hc.filter(F.col("cum") >= r)
            .agg(F.min("cents").alias("v"))
            .collect()[0]["v"]
        )
        assert got == svals[r - 1], (pct, r, got, svals[r - 1])


def test_basket_array_null_parity_vs_self_join(spark):
    """The r11 NULL-key parity contract for the basket-array family: with
    NULL baskets and NULL items present, the filtered basket-array pair
    expansion emits exactly the pair multiset of the DISTINCT + self-equi-
    join formulation (which drops NULL baskets by join semantics and NULL
    items by the a < b comparison)."""
    rows = [
        (1, 10), (1, 20), (1, None), (2, 10), (2, 30), (None, 10),
        (None, 20), (3, 40), (3, 10), (3, 40),
    ]
    li = spark.createDataFrame(rows, "o bigint, p bigint")
    lid = li.distinct()
    a = lid.select("o", F.col("p").alias("a"))
    b = lid.select(F.col("o").alias("o2"), F.col("p").alias("b"))
    old = (
        a.join(b, (F.col("o") == F.col("o2")) & (F.col("a") < F.col("b")))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    )
    baskets = (
        li.filter(F.col("o").isNotNull())
        .groupBy("o")
        .agg(F.array_sort(F.collect_set("p")).alias("ps"))
    )
    new = (
        baskets.select(dedup.sorted_pairs("ps", "a", "b").alias("pr"))
        .select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("support"))
    )
    assert sorted(map(tuple, old.collect())) == sorted(map(tuple, new.collect()))
    # and the adamic-adar degree contract: count(*) over distinct rows per
    # non-null order == |collect_set| + has-NULL-part
    deg_old = {
        r["o"]: r["d"]
        for r in lid.filter(F.col("o").isNotNull())
        .groupBy("o").agg(F.count(F.lit(1)).alias("d")).collect()
    }
    deg_new = {
        r["o"]: r["d"]
        for r in li.filter(F.col("o").isNotNull())
        .groupBy("o")
        .agg(
            F.array_sort(F.collect_set("p")).alias("ps"),
            F.max(F.when(F.col("p").isNull(), 1).otherwise(0)).alias("hasnull"),
        )
        .select("o", (F.size("ps") + F.col("hasnull")).cast("long").alias("d"))
        .collect()
    }
    assert deg_old == deg_new and deg_old[1] == 3  # NULL part counted once
