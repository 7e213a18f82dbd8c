"""Structured Streaming skins (SURVEY.md §2.7): availableNow replay +
foreachBatch merge, windowed aggregation with watermark, session windows.

The reference's scheduling IS streaming semantics (daily event-time
micro-batches, catchup replay, NULL-key quarantine side output); these tests
prove the streaming operators produce the same state the batch operators do.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from etl_mssql_to_postgres_dailysync_spark.operators.merge import dedupe_last_wins
from etl_mssql_to_postgres_dailysync_spark.sources.fake_data import fake_orders
from etl_mssql_to_postgres_dailysync_spark.streaming import runner


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_available_now_merge_sink_matches_batch(spark, tmpdir):
    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    src = fake_orders(spark, 300)
    src.write.parquet(f"{tmpdir}/in")

    def sink():
        return runner.txn_merge_sink(
            f"{tmpdir}/target",
            ["OrderID"],
            quarantine_ts_col="OrderCreatedAt",
            quarantine_path=f"{tmpdir}/quarantine",
        )

    stream = runner.read_stream_parquet(spark, f"{tmpdir}/in", src.schema)
    runner.run_available_now(stream, sink(), f"{tmpdir}/ckpt")

    target = TxnTable(spark, f"{tmpdir}/target")
    quarantine = TxnTable(spark, f"{tmpdir}/quarantine")
    complete = src.filter(F.col("OrderCreatedAt").isNotNull())
    incomplete = src.filter(F.col("OrderCreatedAt").isNull())
    # the streamed merge state == the batch split (completeness invariant)
    assert target.read().count() == complete.count()
    assert quarantine.read().count() == incomplete.count()
    assert target.read().exceptAll(complete).count() == 0

    # replay idempotency: running the same input again converges (upsert, not
    # append) in the target AND the quarantine — the reference's re-run
    # safety property.
    stream2 = runner.read_stream_parquet(spark, f"{tmpdir}/in", src.schema)
    runner.run_available_now(stream2, sink(), f"{tmpdir}/ckpt2")
    assert target.read().count() == complete.count()
    assert target.read().exceptAll(complete).count() == 0
    assert quarantine.read().count() == incomplete.count()
    assert quarantine.read().exceptAll(incomplete).count() == 0


def test_txn_merge_sink_rejects_batch_with_unknown_column(spark, tmpdir):
    """A micro-batch whose columns the table lacks fails the batch and
    commits nothing: the table (and its quarantine) keep their version and
    rows, so the stream stops instead of replacing the table with the
    batch."""
    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    src = fake_orders(spark, 100)
    sink = runner.txn_merge_sink(
        f"{tmpdir}/target",
        ["OrderID"],
        quarantine_ts_col="OrderCreatedAt",
        quarantine_path=f"{tmpdir}/quarantine",
    )
    sink(src, 0)
    target = TxnTable(spark, f"{tmpdir}/target")
    quarantine = TxnTable(spark, f"{tmpdir}/quarantine")
    versions = (target.version(), quarantine.version())
    before = target.read().collect()

    wider = src.limit(1).withColumn("channel", F.lit("web"))
    with pytest.raises(ValueError, match="column mismatch"):
        sink(wider, 1)
    assert (target.version(), quarantine.version()) == versions
    assert sorted(target.read().collect()) == sorted(before)


def _orders_rows(spark, rows):
    """Orders batch of (OrderID, OrderCreatedAt) rows; the other columns are
    fixed."""
    import datetime
    from decimal import Decimal

    from etl_mssql_to_postgres_dailysync_spark.schemas import ORDERS_SCHEMA

    added = datetime.datetime(2025, 1, 1)
    return spark.createDataFrame(
        [(k, 1000, added, ts, Decimal("10.0000"), "book", False) for k, ts in rows],
        ORDERS_SCHEMA,
    )


def _quarantine_sink(tmpdir, **merge_kwargs):
    return runner.txn_merge_sink(
        f"{tmpdir}/target",
        ["OrderID"],
        quarantine_ts_col="OrderCreatedAt",
        quarantine_path=f"{tmpdir}/quarantine",
        **merge_kwargs,
    )


def test_txn_merge_sink_releases_completed_orders(spark, tmpdir):
    """An order quarantined for its NULL timestamp leaves the quarantine
    once a later batch completes it, and a replay of that batch changes
    neither table."""
    import datetime

    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    ts = datetime.datetime(2025, 1, 2, 10, 0)
    sink = _quarantine_sink(tmpdir)
    sink(_orders_rows(spark, [(1, None), (2, ts)]), 0)
    target = TxnTable(spark, f"{tmpdir}/target")
    quarantine = TxnTable(spark, f"{tmpdir}/quarantine")
    assert [r.OrderID for r in quarantine.read().collect()] == [1]

    batch2 = _orders_rows(spark, [(1, ts)])
    sink(batch2, 1)
    def keys(t):
        return sorted(r.OrderID for r in t.read().collect())

    assert keys(target) == [1, 2]
    assert keys(quarantine) == []

    rows, q_version = sorted(target.read().collect()), quarantine.version()
    sink(batch2, 1)
    assert sorted(target.read().collect()) == rows
    assert keys(quarantine) == []
    assert quarantine.version() == q_version


def test_txn_merge_sink_commits_no_empty_quarantine(spark, tmpdir):
    """A batch with no NULL-timestamp row and no quarantined key leaves the
    quarantine's version as it was."""
    import datetime

    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    sink = _quarantine_sink(tmpdir)
    sink(fake_orders(spark, 300), 0)
    quarantine = TxnTable(spark, f"{tmpdir}/quarantine")
    version, n = quarantine.version(), quarantine.read().count()
    assert n > 0

    ts = datetime.datetime(2025, 1, 2, 10, 0)
    sink(_orders_rows(spark, [(k, ts) for k in range(10_001, 10_006)]), 1)
    assert quarantine.version() == version
    assert quarantine.read().count() == n
    assert TxnTable(spark, f"{tmpdir}/target").read().count() == (
        fake_orders(spark, 300).filter(F.col("OrderCreatedAt").isNotNull()).count() + 5)


def test_txn_merge_sink_commits_no_all_null_timestamp_batch(spark, tmpdir):
    """A batch whose every timestamp is NULL goes wholly to the quarantine;
    the target sink, pruned by that timestamp, merges an empty batch and
    commits nothing."""
    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    sink = _quarantine_sink(tmpdir, cluster_by="OrderCreatedAt",
                            prune_col="OrderCreatedAt")
    sink(fake_orders(spark, 300).repartition(4), 0)
    target = TxnTable(spark, f"{tmpdir}/target")
    quarantine = TxnTable(spark, f"{tmpdir}/quarantine")
    version, n = target.version(), quarantine.read().count()
    sink(_orders_rows(spark, [(k, None) for k in range(20_001, 20_004)]), 1)
    assert target.version() == version
    assert quarantine.read().count() == n + 3


def test_txn_merge_sink_prunes_other_days(spark, tmpdir):
    """A sink clustered and pruned by the event timestamp rewrites only the
    files whose zone maps overlap a one-day batch; the other days' files
    stay live by path."""
    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    sink = runner.txn_merge_sink(
        f"{tmpdir}/target", ["OrderID"],
        cluster_by="OrderCreatedAt", prune_col="OrderCreatedAt",
    )
    orders = fake_orders(spark, 400).filter(F.col("OrderCreatedAt").isNotNull())
    sink(orders.repartition(8), 0)
    target = TxnTable(spark, f"{tmpdir}/target")
    before = target.files()
    day = orders.agg(F.min(F.to_date("OrderCreatedAt"))).first()[0]
    one_day = orders.filter(F.to_date("OrderCreatedAt") == day).withColumn(
        "Product", F.lit("resynced"))
    sink(one_day, 1)

    day_start, day_end = str(day), f"{day} 23:59:59.999999"
    others = {f.path for f in before
              if f.stats["OrderCreatedAt"]["max"] < day_start
              or f.stats["OrderCreatedAt"]["min"] > day_end}
    assert others
    assert others <= {f.path for f in target.files()}
    assert target.history()[-1]["meta"]["files_kept"] >= len(others)
    out = target.read()
    assert out.count() == orders.count()
    assert out.filter(F.col("Product") == "resynced").count() == one_day.count() > 0


def test_windowed_counts_stream_matches_batch(spark, tmpdir):
    events = (
        spark.range(0, 500)
        .select(
            F.col("id").alias("event_id"),
            F.timestamp_micros((F.lit(1700000000_000000) + F.col("id") * 90_000_000).cast("long")).alias("ts"),
            (F.col("id") % 3).cast("string").alias("event_type"),
            (F.col("id") % 7).cast("double").alias("value"),
        )
    )
    events.write.parquet(f"{tmpdir}/ev")
    stream = runner.read_stream_parquet(spark, f"{tmpdir}/ev", events.schema)
    agg = runner.windowed_counts(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt_win")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = spark.sql("SELECT window.start AS ws, event_type, n_events FROM win_counts")
    batch = (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("window.start").alias("ws"), "event_type", "n_events")
    )
    assert streamed.exceptAll(batch).count() == 0
    assert batch.exceptAll(streamed).count() == 0


def test_session_window_stream(spark, tmpdir):
    events = (
        spark.range(0, 200)
        .select(
            F.col("id").alias("event_id"),
            # two users, bursts separated by > 30 min every 50 events
            F.timestamp_micros(
                (F.lit(1700000000_000000)
                 + (F.col("id") / 50).cast("long") * 3600_000_000
                 + (F.col("id") % 50) * 10_000_000).cast("long")
            ).alias("ts"),
            (F.col("id") % 2).alias("user_id"),
            F.lit(1.0).alias("value"),
        )
    )
    events.write.parquet(f"{tmpdir}/sess")
    stream = runner.read_stream_parquet(spark, f"{tmpdir}/sess", events.schema)
    sess = runner.sessionized(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/ckpt_sess")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT user_id, n_events FROM sessions")
    # 4 hourly bursts x 2 users = 8 sessions of 25 events each
    assert out.count() == 8
    assert {r["n_events"] for r in out.collect()} == {25}


def test_dedupe_last_wins_streaming_batch_parity(spark):
    # last-wins dedupe keeps the highest version per key, the rule the
    # merge applies to every micro-batch, the first one included
    df = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (2, "c", 1)], ["k", "v", "ver"]
    )
    out = dedupe_last_wins(df, ["k"], "ver")
    rows = {r["k"]: r["v"] for r in out.collect()}
    assert rows == {1: "b", 2: "c"}


def test_streaming_dedup_bounded_state(spark, tmpdir):
    events = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:05:00"),
         (2, "2024-01-01 10:01:00"), (2, "2024-01-01 10:01:00"),
         (3, "2024-01-01 11:30:00")],
        "k int, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    events.write.parquet(f"{tmpdir}/in")
    stream = runner.read_stream_parquet(spark, f"{tmpdir}/in", events.schema)
    deduped = runner.streaming_dedup(stream, ["k"], ts_col="ts")
    q = (deduped.writeStream.format("parquet")
         .option("path", f"{tmpdir}/out")
         .option("checkpointLocation", f"{tmpdir}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.read.parquet(f"{tmpdir}/out")
    assert out.count() == 3
    assert sorted(r["k"] for r in out.select("k").collect()) == [1, 2, 3]


def test_streaming_jdbc_upsert_sink_sqlite(spark, tmpdir):
    import os
    import sqlite3

    db = f"{tmpdir}/stream_upsert.db"
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    con.commit()
    con.close()

    def connect(_p=db):
        import sqlite3 as _sq
        return _sq.connect(_p, timeout=30)

    rows = spark.createDataFrame([(1, "a"), (2, "b"), (2, "b2")], "k int, v string")
    rows.write.parquet(f"{tmpdir}/in")
    stream = runner.read_stream_parquet(spark, f"{tmpdir}/in", rows.schema)
    sink = runner.jdbc_upsert_sink(connect, "t", ["k"], dialect="sqlite", single_writer=True)
    runner.run_available_now(stream, sink, f"{tmpdir}/ckpt")
    con = sqlite3.connect(db)
    got = dict(con.execute("SELECT k, v FROM t").fetchall())
    con.close()
    assert got[1] == "a" and got[2] in ("b", "b2") and len(got) == 2

    # replay the same input via a fresh checkpoint: upsert converges (no dup keys)
    stream2 = runner.read_stream_parquet(spark, f"{tmpdir}/in", rows.schema)
    runner.run_available_now(stream2, runner.jdbc_upsert_sink(
        connect, "t", ["k"], dialect="sqlite", single_writer=True), f"{tmpdir}/ckpt2")
    con = sqlite3.connect(db)
    assert len(con.execute("SELECT k FROM t").fetchall()) == 2
    con.close()


def test_stream_stream_interval_join_matches_batch(spark, tmpdir):
    imps = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:10:00"),
         (3, "2024-01-01 12:00:00")],
        "ad int, ts_s string",
    ).select("ad", F.col("ts_s").cast("timestamp").alias("imp_ts"))
    clicks = spark.createDataFrame(
        [(1, "2024-01-01 10:20:00"),   # within 30m of imp 1 -> match
         (2, "2024-01-01 11:30:00"),   # 80m after imp 2 -> no match
         (3, "2024-01-01 12:05:00")],  # within -> match
        "ad int, ts_s string",
    ).select("ad", F.col("ts_s").cast("timestamp").alias("click_ts"))
    imps.write.parquet(f"{tmpdir}/imps")
    clicks.write.parquet(f"{tmpdir}/clicks")

    li = runner.read_stream_parquet(spark, f"{tmpdir}/imps", imps.schema)
    rc = runner.read_stream_parquet(spark, f"{tmpdir}/clicks", clicks.schema)
    joined = runner.stream_stream_interval_join(
        li, rc, "ad", left_ts="imp_ts", right_ts="click_ts", within="30 minutes"
    )
    q = (joined.select("l.ad", "imp_ts", "click_ts").writeStream.format("parquet")
         .option("path", f"{tmpdir}/joined")
         .option("checkpointLocation", f"{tmpdir}/ckpt")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.read.parquet(f"{tmpdir}/joined")
    batch = imps.join(
        clicks,
        (imps.ad == clicks.ad)
        & (clicks.click_ts >= imps.imp_ts)
        & (clicks.click_ts <= imps.imp_ts + F.expr("interval 30 minutes")),
    )
    assert out.count() == batch.count() == 2
    assert sorted(r["ad"] for r in out.collect()) == [1, 3]


def test_streaming_txn_table_sink(spark, tmpdir):
    from etl_mssql_to_postgres_dailysync_spark.sources.txn_table import TxnTable

    src = fake_orders(spark, 200).filter(F.col("OrderCreatedAt").isNotNull())
    # one key twice in the same micro-batch: the first batch dedupes like
    # every later one
    dup = src.orderBy("OrderID").limit(1).withColumn("Product", F.lit("dup"))
    src = src.unionByName(dup)
    src.write.parquet(f"{tmpdir}/in")
    stream = runner.read_stream_parquet(spark, f"{tmpdir}/in", src.schema)
    runner.run_available_now(
        stream, runner.txn_merge_sink(f"{tmpdir}/tbl", ["OrderID"]), f"{tmpdir}/ckpt"
    )
    t = TxnTable(spark, f"{tmpdir}/tbl")
    expected = dedupe_last_wins(src, ["OrderID"])
    assert t.read().count() == expected.count() == src.count() - 1
    assert t.read().exceptAll(expected).count() == 0
    # replay the same data through a fresh checkpoint: converges, one more commit
    v_before = t.version()
    stream2 = runner.read_stream_parquet(spark, f"{tmpdir}/in", src.schema)
    runner.run_available_now(
        stream2, runner.txn_merge_sink(f"{tmpdir}/tbl", ["OrderID"]), f"{tmpdir}/ckpt2"
    )
    assert t.read().count() == expected.count()
    assert t.version() > v_before  # atomic commits recorded, state unchanged


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmpdir):
    """Left-outer stream-stream join: unmatched left rows must be emitted
    with NULL right side once the watermark passes the join horizon —
    bounded-state attribution including the 'never converted' rows."""
    imps = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-01 10:10:00")],
        "ad int, ts_s string",
    ).select("ad", F.col("ts_s").cast("timestamp").alias("imp_ts"))
    clicks = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00"),
         (9, "2024-01-01 23:00:00")],  # late sentinel advances the watermark
        "ad int, ts_s string",
    ).select("ad", F.col("ts_s").cast("timestamp").alias("click_ts"))
    imps.write.parquet(f"{tmpdir}/imps")
    clicks.write.parquet(f"{tmpdir}/clicks")
    li = runner.read_stream_parquet(spark, f"{tmpdir}/imps", imps.schema).withWatermark(
        "imp_ts", "10 minutes"
    )
    rc = runner.read_stream_parquet(spark, f"{tmpdir}/clicks", clicks.schema).withWatermark(
        "click_ts", "10 minutes"
    )
    joined = li.alias("l").join(
        rc.alias("r"),
        F.expr("l.ad = r.ad AND r.click_ts >= l.imp_ts "
               "AND r.click_ts <= l.imp_ts + interval 30 minutes"),
        "left_outer",
    )
    def run_once():
        qq = (joined.select("l.ad", "imp_ts", "click_ts").writeStream.format("parquet")
              .option("path", f"{tmpdir}/out")
              .option("checkpointLocation", f"{tmpdir}/ckpt")
              .trigger(availableNow=True).start())
        qq.awaitTermination(120)

    run_once()
    # The GLOBAL watermark is the MIN over both streams, and outer-join NULL
    # results flush on the trigger AFTER it passes the horizon — so BOTH
    # sides need later data before the unmatched row can be emitted (an
    # always-on production stream gets this for free with every batch).
    spark.createDataFrame(
        [(9, "2024-01-02 12:00:00")], "ad int, ts_s string"
    ).select("ad", F.col("ts_s").cast("timestamp").alias("click_ts")).write.mode(
        "append"
    ).parquet(f"{tmpdir}/clicks")
    spark.createDataFrame(
        [(9, "2024-01-02 12:00:00")], "ad int, ts_s string"
    ).select("ad", F.col("ts_s").cast("timestamp").alias("imp_ts")).write.mode(
        "append"
    ).parquet(f"{tmpdir}/imps")
    run_once()
    run_once()  # one more trigger to flush state evicted at the new watermark
    out = spark.read.parquet(f"{tmpdir}/out")
    rows = {r["ad"]: r["click_ts"] for r in out.collect()}
    assert rows[1] is not None      # matched within horizon
    assert rows.get(2, "missing") is None  # emitted as unmatched after watermark
