"""Daily-sync pipeline invariants (FIXTURES.md §4) on the deterministic
fake-orders generator."""

import uuid

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.operators import filters, project
from etl_mssql_to_postgres_dailysync_spark.plans.daily_sync import (
    backfill,
    daily_sync,
    per_date_counts,
)
from etl_mssql_to_postgres_dailysync_spark.sources.fake_data import fake_orders


def test_fake_orders_shape(spark):
    df = fake_orders(spark, 1000)
    assert df.count() == 1000
    null_frac = df.filter(F.col("OrderCreatedAt").isNull()).count() / 1000
    assert 0.2 < null_frac < 0.4  # ~30% incomplete, like the reference
    # incomplete orders are never delivered (fake_data_producer.py:21-24)
    assert (
        df.filter(F.col("OrderCreatedAt").isNull() & F.col("IsDelivered")).count() == 0
    )
    # deterministic across invocations
    assert df.exceptAll(fake_orders(spark, 1000)).count() == 0


def test_split_completeness(spark):
    src = fake_orders(spark, 500)
    complete, incomplete = filters.split_complete_incomplete(src, "OrderCreatedAt")
    assert complete.count() + incomplete.count() == 500


def _busiest_date(src):
    return str(
        src.filter(F.col("OrderCreatedAt").isNotNull())
        .select(F.to_date("OrderCreatedAt").alias("d"))
        .groupBy("d").count().orderBy(F.desc("count"), "d").first()["d"]
    )


def _sink(res, path):
    """Write each output of ``daily_sync`` once, as the TxnTable sink does;
    ``metrics`` and ``report`` are read from these writes."""
    res.merged_target.write.parquet(str(path / "target"))
    res.incomplete_snapshot.write.parquet(str(path / "incomplete"))
    return res.merged_target.sparkSession.read.parquet(str(path / "target"))


def _jobs_run_by(sc, build):
    group = f"single-pass-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_daily_sync_run(spark, tmp_path):
    src = fake_orders(spark, 1000)
    some_date = _busiest_date(src)
    target = src.filter(F.lit(False))  # empty target, same schema
    res = daily_sync(src, target, some_date)
    first = _sink(res, tmp_path / "first")
    assert res.metrics["extracted_row_count"] > 0
    assert res.metrics["merge_inserted"] == res.metrics["extracted_row_count"]
    assert res.report.ok, res.report.warnings
    # incomplete snapshot got the audit column
    assert "loaded_at_timestamp" in res.incomplete_snapshot.columns
    # idempotent re-run: merging same day again changes nothing, and every
    # extracted row reconciles as updated
    res2 = daily_sync(src, first, some_date)
    assert _sink(res2, tmp_path / "again").exceptAll(first).count() == 0
    assert res2.report.ok, res2.report.warnings
    assert res2.metrics["merge_updated"] == res2.metrics["extracted_row_count"]


@pytest.mark.parametrize("bad_rows", ["duplicate_day", "null_key"])
def test_reconciliation_warns_on_rows_not_loaded(spark, tmp_path, bad_rows):
    """Every run-date row duplicated, or one run-date row with a NULL key:
    the extract holds rows the merge cannot load, so reconciliation warns."""
    src = fake_orders(spark, 1000)
    run_date = _busiest_date(src)
    day = src.filter(filters.daily_partition("OrderCreatedAt", run_date))
    if bad_rows == "null_key":
        day = day.limit(1).withColumn("OrderID", F.lit(None).cast("bigint"))
    res = daily_sync(src.unionByName(day), src.filter(F.lit(False)), run_date)
    _sink(res, tmp_path)
    loaded = src.filter(F.to_date("OrderCreatedAt") == run_date).count()
    extracted = loaded + day.count()
    assert not res.report.ok
    assert res.report.warnings == [f"extracted={extracted} != loaded={loaded}"]


def test_daily_sync_single_pass(spark, sf_dir, tmp_path):
    """``daily_sync`` and the registry pipeline build run no Spark job; the
    counts come from the sink's writes and match plain filter counts."""
    from etl_mssql_to_postgres_dailysync_spark.plans.driver_queries import QUERIES

    sc = spark.sparkContext
    src = fake_orders(spark, 1000)
    run_date = _busiest_date(src)
    # half the keys already synced, on every date: updates, inserts and keeps
    target = src.filter(F.col("OrderCreatedAt").isNotNull() & (F.col("OrderID") % 2 == 0))
    res, jobs = _jobs_run_by(sc, lambda: daily_sync(src, target, run_date))
    assert jobs == 0
    _, jobs = _jobs_run_by(sc, lambda: QUERIES["daily_sync_pipeline"](spark, sf_dir))
    assert jobs == 0

    _sink(res, tmp_path)
    day = src.filter(F.to_date("OrderCreatedAt") == run_date)
    extracted = day.count()
    updated = day.filter(F.col("OrderID") % 2 == 0).count()
    kept = target.count() - updated
    assert res.metrics == {
        "extracted_row_count": extracted,
        "loaded_row_count": extracted,
        "null_extracted_row_count": src.filter(F.col("OrderCreatedAt").isNull()).count(),
        "merge_total": kept + extracted,
        "merge_updated": updated,
        "merge_inserted": extracted - updated,
        "merge_kept": kept,
    }
    assert res.report.ok


def test_backfill_equals_union_of_days(spark):
    src = fake_orders(spark, 400)
    target = src.filter(F.lit(False))
    out = backfill(src, target, "2025-01-01", "2025-12-31")
    expected = src.filter(F.col("OrderCreatedAt").isNotNull()).count()
    assert out.count() == expected


def test_per_date_counts_sum(spark):
    src = fake_orders(spark, 300)
    total = per_date_counts(src, "OrderCreatedAt").agg(F.sum("row_count")).collect()[0][0]
    assert total == src.filter(F.col("OrderCreatedAt").isNotNull()).count()


def test_observe_count_rides_along(spark):
    """A2 — the extract counter as an observe() side effect: no second scan."""
    from etl_mssql_to_postgres_dailysync_spark.operators.validate import observe_count

    src = fake_orders(spark, 200)
    observed, obs = observe_count(src.filter(F.col("OrderCreatedAt").isNotNull()))
    n_action = observed.count()  # ONE action drives both the count and the metric
    assert obs.get["rows"] == n_action


def test_projection_ops(spark):
    from etl_mssql_to_postgres_dailysync_spark.schemas import ORDERS_SCHEMA

    df = fake_orders(spark, 10).withColumn("id", F.monotonically_increasing_id())
    df = project.drop_surrogate(df)
    assert "id" not in df.columns
    low = project.lowercase_columns(df)
    assert all(c == c.lower() for c in low.columns)
    aligned = project.align_columns(low.drop("amount"), ORDERS_SCHEMA)
    assert aligned.columns == [f.name for f in ORDERS_SCHEMA.fields]
    assert aligned.select("Amount").distinct().collect()[0][0] is None


class TestExpectations:
    def test_split_and_violation_labels(self, spark):
        from etl_mssql_to_postgres_dailysync_spark.operators import expectations as X

        df = spark.createDataFrame(
            [(1, 50, "a"), (2, None, "b"), (3, 200, "zz"), (4, 120, "a")],
            "id int, amount int, code string",
        )
        dim = spark.createDataFrame([(1,), (2,), (4,)], "id int")
        good, quarantined, metrics = X.apply_expectations(
            df,
            [X.in_range("amount", 100, 300), X.matches("code", "^[ab]$")],
            fk={"id": dim},
        )
        assert [r["id"] for r in good.collect()] == [4]
        q = {r["id"]: set(r["_violations"]) for r in quarantined.collect()}
        assert q[1] == {"range_amount"}
        assert q[2] == {"range_amount"}  # NULL fails the range rule
        assert q[3] == {"regex_code", "fk_id"}
        m = metrics.collect()[0]
        assert m["total"] == 4 and m["passed"] == 1
        assert m["viol_range_amount"] == 2 and m["viol_fk_id"] == 1
