"""Custom stateful streaming operator (applyInPandasWithState): state
persists ACROSS micro-batches, and the final state equals the batch answer.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.streaming import runner, stateful


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_stateful_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 7).alias("user_id"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).alias("ts_micros"),
        (F.col("id") % 13).cast("double").alias("value"),
    )


def test_stateful_tracker_accumulates_across_batches(spark, tmpdir):
    # two separate files -> maxFilesPerTrigger=1 forces two micro-batches
    _events(spark, 0, 300).coalesce(1).write.parquet(f"{tmpdir}/in/b1")
    _events(spark, 300, 500).coalesce(1).write.parquet(f"{tmpdir}/in/b2")
    schema = _events(spark, 0, 1).schema

    stream = (
        spark.readStream.format("parquet")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(f"{tmpdir}/in/*")
    )
    tracked = stateful.track_user_state(stream)
    q = (
        tracked.writeStream.format("memory")
        .queryName("user_state")
        .outputMode("update")
        .option("checkpointLocation", f"{tmpdir}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # update mode: keep the LAST emitted row per user (later batches win)
    final = spark.sql(
        """
        SELECT user_id, n_events, latest_ts_micros, last_value FROM (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) rn
            FROM user_state
        ) WHERE rn = 1
        """
    )
    expected = (
        _events(spark, 0, 500)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts_micros").alias("latest_ts_micros"),
            F.max_by("value", "ts_micros").alias("last_value"),
        )
    )
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
    # state really spanned batches: one emission per user per batch it appeared in
    assert spark.table("user_state").count() > final.count()

